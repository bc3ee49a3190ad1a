package graftbench

import java.nio.file.Path
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload sees in one run. `work` is a fresh directory
  * under the run's temp root; `inputs` holds the generated inputs. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val inputs: Path,
                val work: Path, val benchDir: Path, val seed: Long,
                val cores: Int, val tiny: Boolean) {
  private var n = 0
  /** A new, not yet existing directory under `work`. */
  def fresh(prefix: String): Path = { n += 1; work.resolve(s"$prefix$n") }
}

/** What the measured window produced. Latencies are per operation; the
  * operations of a workload all do the same work. `items` counts the
  * workload's unit of input (rows, documents) over all operations.
  * `layer` holds the counts the benchmark measures itself
  * (funnel rows, index files); `digests` the output digests. */
final class Outcome {
  val latMs = mutable.ArrayBuffer.empty[Double]
  var items = 0L
  var storedBytes = 0L
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  val digests = mutable.LinkedHashMap.empty[String, String]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Count one checked operation; a false `ok` (or an exception in
    * `body`) counts it as failed with `what` as the reason. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch {
      case e: Throwable => problems += s"$what: $e"; false
    }
    if (!good) {
      failed += 1
      if (!problems.lastOption.exists(_.startsWith(what)))
        problems += what
    }
  }

  /** Record a digest; a name seen before must keep its value (every
    * repetition of an operation on the same inputs gives the same
    * output). */
  def digest(name: String, value: String): Unit =
    digests.get(name) match {
      case Some(v) => check(s"$name changed between repetitions: $v -> $value")(
        v == value)
      case None => digests(name) = value
    }

  def addLayer(k: String, v: Double): Unit =
    layer(k) = layer.getOrElse(k, 0.0) + v

  /** Items of one operation over the median operation's seconds. */
  def itemsPerS: Double = {
    val s = latMs.sorted
    val median = if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    items.toDouble / s.size / (median / 1e3)
  }
}

trait Workload {
  def name: String
  /** Names the input size, for the input cache's key. */
  def sizeKey(tiny: Boolean): String
  /** Writes the inputs for `seed` under `dir` (called once per seed and
    * size; the result is cached). */
  def generate(dir: Path, seed: Long, tiny: Boolean): Unit
  /** Runs timed operations until `deadline` (System.nanoTime), at
    * least [[Workload.MinOps]]; checks outputs as it goes. */
  def measure(ctx: Ctx, deadline: Long, out: Outcome): Unit
  /** Untimed checks that need the whole window's outputs. */
  def verify(ctx: Ctx, out: Outcome): Unit = ()
}

object Workload {
  val all: Seq[Workload] = Seq(PigBatch, Curation)

  /** Operations per run at the least: the first runs cold (Spark code
    * generation, JIT), the second warm, and the median of two is their
    * mean. A third does not fit the benchmark's time budget. */
  val MinOps = 2
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name; one of " +
      all.map(_.name).mkString(", ")))

  /** Times `body` as one operation. */
  def timed[T](out: Outcome)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally out.latMs += (System.nanoTime() - t0) / 1e6
  }
}
