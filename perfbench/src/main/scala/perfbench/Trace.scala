package perfbench

import scala.collection.mutable.ArrayBuffer

/** One recorded interval. `layer` is the name up to its last dot
  * (`io.writeChunks` → `io`, `codec.fsst.train` → `codec.fsst`); every
  * span of one operation shares `op`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def layer: String = name.substring(0, math.max(0, name.lastIndexOf('.')))
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder around the benchmark's calls into the
  * program's modules. Off unless [[enabled]]; spans are kept in memory
  * and written out once, when the run ends. Single-threaded: call it from
  * the thread that runs the operations.
  */
object Trace {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var nextOp = 1

  /** Runs `body` as the root of a new operation. Returns the op id, or 0
    * when tracing is off.
    */
  def op[T](name: String)(body: => T): (T, Int) =
    if (!enabled) (body, 0)
    else {
      val id = nextOp
      nextOp += 1
      (record(name, id)(body), id)
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled || stack.isEmpty) body else record(name, stack.head.op)(body)

  private def record[T](name: String, op: Int)(body: => T): T = {
    val open = Span(nextId, stack.headOption.map(_.id).getOrElse(0), op, name, System.nanoTime(), 0L)
    nextId += 1
    stack = open :: stack
    try body
    finally {
      stack = stack.tail
      spans += open.copy(endNs = System.nanoTime())
    }
  }

  /** Self time per layer in ns, summed over the given ops: a span's
    * duration minus the part covered by its children.
    */
  def selfNsByLayer(ops: Set[Int]): Map[String, Long] = {
    val in = spans.filter(s => ops.contains(s.op))
    val childNs = in.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    in.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => math.max(0L, s.durNs - childNs.getOrElse(s.id, 0L))).sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = spans.sortBy(_.startNs).map { s =>
      Stats.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Stats.str(s.name), "start_us" -> ((s.startNs - t0) / 1000).toString,
        "end_us" -> ((s.endNs - t0) / 1000).toString))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
