package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call of the closed-loop client. `cls` is "read" (leaves
  * program state unchanged) or "write" (mutates a table or a persisted
  * state); `pass` groups the ops of one workload pass for the drift
  * ratio; `rows` is the input rows the op processed; `cal` is the
  * [[Calibration]] time in ms taken right before the op. */
final case class Op(id: Int, kind: String, cls: String, pass: Int,
                    t0: Double, t1: Double, rows: Long, ok: Boolean,
                    err: String, cal: Double)

/** A span around one call into a layer, recorded only in a traced run. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      layer: String, t0: Double, t1: Double)

final case class Check(name: String, ok: Boolean, detail: String)

/** The machine's speed: a fixed integer loop run at once on one thread
  * per core, with no Spark and no program code in it; the mean of the
  * threads' loop times, best of three, in ms. Other tenants' load on a
  * shared machine takes cores from it as it takes them from the ops, so op
  * times can be read in units of it. (A single-thread loop stayed flat
  * while the ops slowed 1.5x: the load took cores, not single-core speed.
  * The slowest thread's time jumped with a neighbour on one core, which
  * Spark's task slots route round; the mean does not.) */
object Calibration {
  @volatile private var sink = 0L
  private var pool: java.util.concurrent.ExecutorService = _
  private var threads = 1

  private def loop(): Unit = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 5000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink += x
  }

  private def once(): Double = {
    val fs = (1 to threads).map(_ => pool.submit(new java.util.concurrent.Callable[Double] {
      def call(): Double = {
        val t0 = System.nanoTime()
        loop()
        (System.nanoTime() - t0) / 1e6
      }
    }))
    fs.map(_.get()).sum / threads
  }

  def apply(): Double = math.min(once(), math.min(once(), once()))

  /** Start one daemon thread per core and compile the loop. */
  def start(cores: Int): Unit = {
    threads = cores
    pool = java.util.concurrent.Executors.newFixedThreadPool(cores, (r: Runnable) => {
      val t = new Thread(r, "calibration"); t.setDaemon(true); t
    })
    (1 to 30).foreach(_ => once())
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution:
  * `nanoTime` deltas anchored once to `currentTimeMillis`, so op and span
  * times share a time base with the listener's job timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Collects ops, spans and output checks in memory; everything is written
  * out once, when the run ends. With `traced` false, [[span]] is a plain
  * call and records nothing. */
final class Recorder(val traced: Boolean) {
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  val checks = ArrayBuffer.empty[Check]
  /** Per-layer values the workload measured, such as files per write. */
  val samples = ArrayBuffer.empty[(String, Double)]
  /** Called at every op boundary in a traced run (listener snapshots). */
  var onOpStart: Int => Unit = _ => ()
  var onOpEnd: Int => Unit = _ => ()

  private var nextSpan = 0
  private var stack: List[Int] = Nil
  private var currentOp = -1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.ms()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, currentOp, name, layer, t0, Clock.ms())
      }
    }

  /** Time one op. `body` returns the op's result; `check` validates it
    * after the clock stops and returns an error message on a mismatch. A
    * throw or a failed check marks the op failed; neither stops the run. */
  def op[T](kind: String, cls: String, pass: Int, rows: Long)
           (body: => T)(check: T => Option[String]): Unit = {
    val id = ops.size
    val cal = Calibration()
    currentOp = id
    onOpStart(id)
    val t0 = Clock.ms()
    val res = try Right(span(kind, "op")(body)) catch {
      case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val t1 = Clock.ms()
    onOpEnd(id)
    currentOp = -1
    val err = res match {
      case Left(msg) => Some(msg)
      case Right(v) =>
        try check(v) catch {
          case e: Exception => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
    }
    ops += Op(id, kind, cls, pass, t0, t1, rows, err.isEmpty, err.getOrElse(""), cal)
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Check(name, ok, detail)

  def sample(name: String, v: Double): Unit = samples += ((name, v))
}
