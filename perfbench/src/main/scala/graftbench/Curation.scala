package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.{Curation => Cur, Dedup, Html, LangModel, Pipeline, TextAnalysis}

/** graft's LLM-data lane over one seeded crawl. One operation is one
  * pipeline run: the seven stages of graft's pipeline timing tool
  * (extract, normalize, filter, dedup, lm, shuffle, pack) through
  * `Pipeline.run` over the crawl's HTML, with a fresh work directory.
  * Traced runs add the ingest tail ([[Ingest]]) after the timed runs,
  * once: a dedup index over the crawl's text and micro-batches of new
  * documents against it. */
object Curation extends Workload {
  val name = "curation"
  val Stages: Seq[String] =
    Seq("extract", "normalize", "filter", "dedup", "lm", "shuffle", "pack")

  /** Crawl size: ~4% exact and ~6% near duplicates planted. */
  def spec(tiny: Boolean): Gen.DocsSpec =
    Gen.DocsSpec(if (tiny) 300 else 1000, exactPct = 4, nearPct = 6)
  val Batches = 1
  def batchDocs(tiny: Boolean): Int = if (tiny) 20 else 40

  def sizeKey(tiny: Boolean): String =
    s"docs${spec(tiny).docs}-b$Batches-x${batchDocs(tiny)}"

  def generate(dir: Path, seed: Long, tiny: Boolean): Unit = {
    val docs = Gen.documents(seed, spec(tiny))
    Gen.writeCorpus(dir.resolve("data/corpus.tsv"), docs)
    Ingest.generate(dir.resolve("data"), seed, docs, Batches, batchDocs(tiny))
  }

  /** `id \t url \t html` lines as (doc_id, url, html). */
  def readCorpus(spark: SparkSession, file: Path): DataFrame = {
    val parts = split(col("value"), "\t", 3)
    spark.read.text(file.toString).select(parts(0).cast("long").as("doc_id"),
      parts(1).as("url"), parts(2).as("html"))
  }

  private def stageFns: Seq[(String, DataFrame => DataFrame)] = Seq(
    "extract" -> { d =>
      d.filter(!Html.metaRobotsNoindex(col("html")))
        .select(col("doc_id"), col("url"),
          Html.dropBoilerplate(col("html")).getField("clean_text")
            .as("clean_text"))
    },
    "normalize" -> { d =>
      d.select(col("doc_id"), col("url"),
        TextAnalysis.normalizeUnicode(col("clean_text")).as("clean_text"))
    },
    "filter" -> { d =>
      d.filter(TextAnalysis.withLangBound(col("clean_text")) { l =>
        TextAnalysis.qualityScoreByLang(col("clean_text"), l) >= 0.3 &&
          TextAnalysis.gopherFlagsByLang(col("clean_text"), l)
            .getField("symbol_ratio_ok")
      })
    },
    "dedup" -> { d =>
      Dedup.standardPipeline(d, "doc_id", "clean_text", urlCol = Some("url"))
    },
    "lm" -> { d =>
      // CCNet's keep/filter split: drop the worst-perplexity bucket;
      // unscored short docs keep a null bucket and survive
      val buckets = LangModel.perplexityBuckets(d, "doc_id", "clean_text",
        buckets = 3).select(col("doc_id"), col("ppl_bucket"))
      d.join(buckets, Seq("doc_id"), "left")
        .filter(col("ppl_bucket").isNull || col("ppl_bucket") <= 2)
    },
    "shuffle" -> { d =>
      Cur.shuffleDeterministic(d, "doc_id", seed = 42L, numShards = 64)
    },
    "pack" -> { d =>
      Cur.packSequences(d, "shard", "pos", "clean_text", seqTokens = 2048)
    })

  /** One pipeline run. Each stage's span opens when `Pipeline.run`
    * invokes its function and closes when the next one is invoked (or
    * the run returns), so it covers the stage's planning and the write
    * of its output. */
  def runPipeline(ctx: Ctx, input: DataFrame, workDir: Path): Unit = {
    var open: Option[Span] = None
    def enter(stage: String): Unit = if (ctx.tr.enabled) {
      open.foreach(ctx.tr.close)
      open = Some(ctx.tr.open(s"text.$stage"))
    }
    try ctx.tr("pipeline") {
      val stages = stageFns.map { case (n, f) =>
        (n, (d: DataFrame) => { enter(n); f(d) }) }
      Pipeline.run(input, stages, workDir.toString, fanOut = 2 * ctx.cores)
      open.foreach(ctx.tr.close)
    } finally graft.GraftSession.unpersistAll()
  }

  def measure(ctx: Ctx, deadline: Long, out: Outcome): Unit = {
    val data = ctx.inputs.resolve("data")
    val input = readCorpus(ctx.spark, data.resolve("corpus.tsv"))
    val docs = spec(ctx.tiny).docs
    var runs = 0
    while (runs < Workload.MinOps || System.nanoTime() < deadline) {
      runs += 1
      val dir = ctx.fresh("pipeline")
      out.check(s"pipeline run $runs ran") {
        Workload.timed(out)(runPipeline(ctx, input, dir)); true
      }
      out.items += docs
      // the funnel: rows each stage kept, read back from its output
      val rows = Stages.zipWithIndex.map { case (s, k) =>
        val d = dir.resolve(f"$k%02d_$s")
        s -> (if (Files.isDirectory(d)) Digest.rowCount(d) else -1L)
      }
      rows.foreach { case (s, n) => out.addLayer(s"text.${s}_rows", n.toDouble) }
      out.storedBytes += Digest.bytesOf(dir.resolve(f"${Stages.size - 1}%02d_pack"))
      out.digest("funnel", rows.map { case (s, n) => s"$s=$n" }.mkString(","))
      out.check("funnel never grows before pack")(rows.map(_._2).take(6)
        .sliding(2).forall { case Seq(a, b) => a >= b })
      out.check("dedup drops the planted exact duplicates")(
        rows(3)._2 < rows(2)._2)
      Digest.deleteTree(dir)
    }
    // funnel counts are per run; report the mean run
    Stages.foreach(s => out.layer(s"text.${s}_rows") =
      out.layer(s"text.${s}_rows") / runs)

    // the ingest tail moves no end-to-end metric (only its spans time
    // it), so it runs in traced runs only, which keeps untraced runs
    // inside the benchmark's time budget
    if (ctx.tr.enabled) {
      val (ix, survivors) = Ingest.cycle(ctx, data, Batches, out)
      Ingest.verify(ctx, data, ix, survivors, out)
    }
  }
}
