package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload: generate (or reuse) the seeded
  * inputs, set up a session once, measure for the given seconds, check
  * outputs and leaks, and write the run's record as one JSON object to
  * `--record`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *   --repo DIR --root DIR --record FILE [--cores N] [--tiny 1]
  *   [--spans FILE]
  * `--root` is this run's work root (warehouse, Spark local dirs,
  * work dirs; the caller deletes it); `--repo` is the checkout, which
  * must end the run unchanged outside its build and cache dirs. Inputs
  * are cached under `perfbench/.cache` in the checkout. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, repo: Path, root: Path,
                        record: Path, cores: Int, tiny: Boolean,
                        spans: Option[Path]) {
    def cache: Path = repo.resolve("perfbench/.cache")
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val repo = Paths.get(req("repo")).toAbsolutePath.normalize
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", repo, Paths.get(req("root")).toAbsolutePath,
      Paths.get(req("record")).toAbsolutePath,
      m.get("cores").fold(Runtime.getRuntime.availableProcessors)(_.toInt),
      m.get("tiny").contains("1"),
      m.get("spans").map(Paths.get(_).toAbsolutePath))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * a.cores).toString)
      .config("spark.sql.warehouse.dir", a.root.resolve("warehouse").toString)
      .config("spark.local.dir", a.root.resolve("spark-local").toString)
      .config("spark.sql.session.timeZone", "UTC")
      // as graft's pipeline timing tool: small input splits, so narrow
      // per-row stages over single-file inputs still use every core
      .config("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
      .config("spark.sql.files.openCostInBytes", "65536")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(a.root.resolve("checkpoint").toString)
    graft.GraftSession.tune(s)
  }

  /** Relative paths under the checkout, except build output, the
    * benchmark's own cache and run dirs, and VCS metadata. */
  def snapshot(repo: Path): Set[String] = {
    val skip = Set("target", ".git", ".bsp", ".bench_build", ".cache", ".run",
      ".out", "project/project")
    val seen = mutable.Set.empty[String]
    Files.walkFileTree(repo, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, at: BasicFileAttributes) = {
        val rel = repo.relativize(d).toString
        if (d != repo && (skip(d.getFileName.toString) || skip(rel)))
          FileVisitResult.SKIP_SUBTREE
        else { seen += rel; FileVisitResult.CONTINUE }
      }
      override def visitFile(f: Path, at: BasicFileAttributes) = {
        seen += repo.relativize(f).toString; FileVisitResult.CONTINUE
      }
    })
    seen.toSet
  }

  /** Keeps the `keep` most recently used input sets of a workload; a
    * run over many seeds would otherwise fill the disk. */
  def pruneCache(cache: Path, workload: String, keep: Int): Unit = {
    val s = Files.list(cache)
    val sets = try s.iterator().asScala.filter(_.getFileName.toString
      .startsWith(workload + "-s")).toVector finally s.close()
    def used(p: Path) = {
      val d = p.resolve("_DONE")
      if (Files.exists(d)) Files.getLastModifiedTime(d).toMillis else 0L
    }
    sets.sortBy(p => -used(p)).drop(keep).foreach(Digest.deleteTree)
  }

  def main(argv: Array[String]): Unit = {
    val mainStart = System.currentTimeMillis()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val a = parse(argv)
    val w = Workload(a.workload)

    val inputs = a.cache.resolve(s"${w.name}-s${a.seed}-${w.sizeKey(a.tiny)}")
    if (!Files.exists(inputs.resolve("_DONE"))) {
      Digest.deleteTree(inputs)
      w.generate(inputs, a.seed, a.tiny)
      Files.write(inputs.resolve("_DONE"), Array.emptyByteArray)
    }
    Files.setLastModifiedTime(inputs.resolve("_DONE"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    pruneCache(a.cache, w.name, keep = 4)
    val genS = (System.currentTimeMillis() - mainStart) / 1e3
    val repoBefore = snapshot(a.repo)

    // set-up, once: session and tune, counted from process start, less
    // input generation and the checkout snapshot. There is no separate
    // warm-up: the first timed operation runs cold.
    val setup0 = System.nanoTime()
    val spark = session(a)

    val tr = new Tracer(a.trace)
    val listener = if (a.trace) Some(new BenchListener(Ingest.Prefix)) else None
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l.planListener)
    }
    val ctx = new Ctx(spark, tr, inputs, a.root.resolve("work"),
      a.repo.resolve("perfbench"), a.seed, a.cores, a.tiny)
    val out = new Outcome
    val cg0 = (Codegen.compiles, Codegen.compileMs)
    val w0 = tr.now()
    val t0 = System.nanoTime()
    val setupS = (mainStart - jvmStart) / 1e3 + (t0 - setup0) / 1e9
    tr(s"run.${w.name}")(
      w.measure(ctx, t0 + (a.seconds * 1e9).toLong, out))
    val windowS = (System.nanoTime() - t0) / 1e9
    val w1 = tr.now()
    val cg = (Codegen.compiles - cg0._1, Codegen.compileMs - cg0._2)

    out.check("outputs verified")({ w.verify(ctx, out); true })
    graft.GraftSession.unpersistAll()
    out.check("no persisted RDDs remain")(
      spark.sparkContext.getPersistentRDDs.isEmpty)
    val layer = listener.map { l =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val rep = new LayerReport(tr, l, w0, w1, a.cores)
      a.spans.foreach(p => Gen.writeLines(p, rep.jsonLines(
        s"${w.name}-s${a.seed}-${mainStart}")))
      Layers.metrics(rep, out, cg)
    }.getOrElse(Map.empty[String, Double])
    spark.stop()
    out.check("the run left the repository tree unchanged") {
      val added = (snapshot(a.repo) -- repoBefore).toSeq.sorted
      if (added.nonEmpty)
        out.problems += s"new in the checkout: ${added.take(10).mkString(", ")}"
      added.isEmpty
    }

    val e2e = Map(
      "setup_s" -> setupS,
      "items_per_s" -> out.itemsPerS,
      "out_bytes_per_item" -> out.storedBytes / out.items.toDouble)
    val record = Json.obj(
      "workload" -> w.name, "seed" -> a.seed, "tiny" -> a.tiny,
      "trace" -> a.trace, "cores" -> a.cores,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "problems" -> out.problems.toSeq, "ops" -> out.latMs.size,
      "window_s" -> windowS, "generate_s" -> genS,
      "setup_s" -> setupS, "ops_ms" -> out.latMs.toSeq,
      "digests" -> out.digests.toMap,
      "end_to_end" -> e2e, "per_layer" -> layer)
    Files.createDirectories(a.record.getParent)
    Files.write(a.record, record.getBytes(UTF_8))
  }
}
