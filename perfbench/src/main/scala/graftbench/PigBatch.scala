package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import graft.frontend.{PigParser, PigPreprocessor, PigRunner}

/** The 17 PigMix patterns as Pig Latin scripts (`pig/L<n>.pig`), run
  * through `PigRunner.run` with STOREs, over a seeded PigMix data set.
  * One operation is one pass: all 17 scripts in order. */
object PigBatch extends Workload {
  val name = "pig_batch"
  val scripts: Seq[Int] = 1 to 17

  def size(tiny: Boolean): Gen.PigMixSize =
    if (tiny) Gen.PigMixSize(2000, 300, 50)
    else Gen.PigMixSize(30000, 10000, 2000)

  def sizeKey(tiny: Boolean): String = {
    val s = size(tiny); s"pv${s.pageViews}-u${s.users}-w${s.wideRows}"
  }

  def generate(dir: Path, seed: Long, tiny: Boolean): Unit =
    Gen.pigmix(dir.resolve("data"), seed, size(tiny))

  def script(ctx: Ctx, i: Int): String =
    new String(Files.readAllBytes(ctx.benchDir.resolve(s"pig/L$i.pig")), UTF_8)

  /** Runs one script; STOREs land under `out`. Traced runs time the
    * preprocessor and parser on their own first (PigRunner.run repeats
    * both; interpret time is the run's self time minus theirs). */
  def runScript(ctx: Ctx, i: Int, data: Path, out: Path): Unit = {
    val params = Map("HDFS_ROOT" -> data.toString,
      "PIGMIX_OUTPUT" -> out.toString, "PARALLEL" -> ctx.cores.toString)
    val text = script(ctx, i)
    ctx.tr(s"pig.L$i") {
      traceParse(ctx, text, params)
      val r = PigRunner(ctx.spark)
      try ctx.tr("frontend.run")(r.run(text, params)) finally r.close()
    }
  }

  /** In traced runs: preprocess and parse on their own, in spans, and
    * count the statements. A no-op untraced. */
  private def traceParse(ctx: Ctx, text: String,
                         params: Map[String, String]): Unit =
    if (ctx.tr.enabled) {
      val expanded = ctx.tr("frontend.preprocess")(
        PigPreprocessor.expand(text, params))
      ctx.tr.count("frontend.statements",
        ctx.tr("frontend.parse")(PigParser.parse(expanded)).size)
    }

  /** Output directories of each script, for the digests. */
  def outputs(i: Int): Seq[String] = i match {
    case 12 => Seq("highest_value_page_per_user", "total_timespent_per_term",
      "queries_per_action")
    case _ => Seq(s"L${i}out")
  }

  private val Twinned = Set(3, 8, 12)

  /** The first pass's outputs are digested (and the twinned ones kept
    * for verify()); every later pass must store as many rows in each
    * output, read from the parquet footers. */
  def measure(ctx: Ctx, deadline: Long, out: Outcome): Unit = {
    val data = ctx.inputs.resolve("data")
    val pvRows = size(ctx.tiny).pageViews
    val firstRows = collection.mutable.Map.empty[String, Long]
    var pass = 0
    while (pass < Workload.MinOps || System.nanoTime() < deadline) {
      pass += 1
      val dir = ctx.work.resolve(s"p$pass")
      Workload.timed(out)(scripts.foreach { i =>
        out.check(s"pass $pass: L$i ran") {
          runScript(ctx, i, data, dir.resolve(s"L$i")); true
        }
      })
      out.items += scripts.size.toLong * pvRows
      for (i <- scripts; o <- outputs(i)) {
        val d = dir.resolve(s"L$i/$o")
        out.storedBytes += Digest.bytesOf(d)
        if (pass == 1) {
          val rows = Digest.storedRows(ctx.spark, d)
          out.check(s"L$i/$o is not empty")(rows.nonEmpty)
          out.digest(s"L$i/$o", Digest.ofLines(rows.iterator))
          firstRows(s"L$i/$o") = rows.size
        } else {
          val n = Digest.rowCount(d)
          out.check(s"pass $pass: L$i/$o stored $n rows, pass 1 " +
            s"${firstRows(s"L$i/$o")}")(n == firstRows(s"L$i/$o"))
        }
      }
      if (pass == 1) scripts.filterNot(Twinned).foreach(i =>
        Digest.deleteTree(dir.resolve(s"L$i")))
      else Digest.deleteTree(dir)
    }
  }

  private val FS = "\u0001"

  /** Seed-independent checks: plain-Spark twins of L3, L8 and L12,
    * computed from the raw files, against what the scripts stored. */
  override def verify(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val data = ctx.inputs.resolve("data")
    val pv = spark.read.option("sep", FS).csv(s"$data/page_views")
      .select(col("_c0").as("user"), col("_c1").as("action"),
        col("_c2").cast("int").as("timespent"), col("_c3").as("query_term"),
        col("_c6").cast("double").as("rev"))
    val users = spark.read.option("sep", FS).csv(s"$data/users")
      .select(col("_c0").as("name"))
    def stored(i: Int, o: String): Set[String] =
      Digest.storedRows(spark, ctx.work.resolve(s"p1/L$i/$o"))
        .map(Digest.normalize).toSet
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toSeq.map(Digest.render).mkString("\t"))
        .map(Digest.normalize).toSet

    out.check("L3 matches its Spark twin")(stored(3, "L3out") == rowsOf(
      users.join(pv, users("name") === pv("user"))
        .groupBy("name").agg(sum("rev"))))
    out.check("L8 matches its Spark twin")(stored(8, "L8out") == rowsOf(
      pv.agg(sum("timespent"), avg("rev"))))
    out.check("L12 highest_value_page_per_user matches its Spark twin")(
      stored(12, "highest_value_page_per_user") == rowsOf(
        pv.filter(col("user").isNotNull && col("query_term").isNotNull)
          .groupBy("user").agg(max("rev"))))
    out.check("L12 total_timespent_per_term matches its Spark twin")(
      stored(12, "total_timespent_per_term") == rowsOf(
        pv.filter(col("user").isNull)
          .groupBy("query_term").agg(sum("timespent"))))
    out.check("L12 queries_per_action matches its Spark twin")(
      stored(12, "queries_per_action") == rowsOf(
        pv.filter(col("user").isNotNull && col("query_term").isNull)
          .groupBy("action").count()))
  }
}
