package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.StreamingDedup
import graft.text.DedupIndex

/** The ingest tail of the curation lane, on the same MinHash layer the
  * pipeline's dedup stage runs in batch: `DedupIndex.write` over the
  * crawl's documents, then micro-batches through
  * `StreamingDedup.ingestBatch`, each carrying planted exact and near
  * duplicates of indexed docs and of earlier batches. */
object Ingest {
  /** Index tables are named `<Prefix><n>_*`; the trace attributes
    * executions that read them to `index`. */
  val Prefix = "bench_ix"

  /** Per batch: ~8% exact and ~12% near copies of earlier text. */
  def batchSpec(n: Int): Gen.DocsSpec = Gen.DocsSpec(n, exactPct = 8, nearPct = 12)

  /** Writes `texts.tsv` (the base) and `batches` batch files. */
  def generate(dir: Path, seed: Long, base: Seq[(Long, String)],
               batches: Int, batchDocs: Int): Unit = {
    Gen.writeTexts(dir.resolve("texts.tsv"), base)
    var seen = base.map(_._2).toIndexedSeq
    (0 until batches).foreach { b =>
      val docs = Gen.documents(seed * 7919 + b + 1, batchSpec(batchDocs),
        firstId = 1000000L * (b + 1), earlier = seen)
      Gen.writeTexts(dir.resolve(f"batch$b%02d.tsv"), docs)
      seen ++= docs.map(_._2)
    }
  }

  def readTexts(spark: SparkSession, file: Path): DataFrame = {
    val parts = split(col("value"), "\t", 2)
    spark.read.text(file.toString)
      .select(parts(0).cast("long").as("doc_id"), parts(1).as("text"))
  }

  /** (id, text) of every line of a `id \t text` file. */
  def texts(file: Path): Seq[(Long, String)] =
    Files.readAllLines(file, UTF_8).asScala.toSeq.map { l =>
      val t = l.indexOf('\t'); (l.substring(0, t).toLong, l.substring(t + 1))
    }

  private var cycles = 0

  /** Builds a fresh index over `in/texts.tsv` and ingests the batches
    * there; returns the index name and the survivor ids per batch. */
  def cycle(ctx: Ctx, in: Path, batches: Int, o: Outcome)
      : (String, Seq[Set[Long]]) = {
    cycles += 1
    val ix = s"$Prefix$cycles"
    val outPath = ctx.fresh("ingest")
    o.check("index build ran") {
      ctx.tr("index.build")(DedupIndex.write(
        readTexts(ctx.spark, in.resolve("texts.tsv")), "doc_id", "text", ix))
      true
    }
    ix -> (0 until batches).map { b =>
      val batch = readTexts(ctx.spark, in.resolve(f"batch$b%02d.tsv"))
      o.check(s"batch $b ran") {
        ctx.tr("streaming.ingest_batch")(StreamingDedup.ingestBatch(
          batch, b.toLong, "doc_id", "text", ix, outPath.toString))
        true
      }
      var ids = Set.empty[Long]
      o.check(s"batch $b keeps some but not all of its documents") {
        ids = ctx.spark.read.parquet(s"$outPath/ingest_batch=$b")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        ids.nonEmpty && ids.size < texts(in.resolve(f"batch$b%02d.tsv")).size
      }
      ids
    }
  }

  private def tables(ctx: Ctx, ix: String): Seq[String] =
    ctx.spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"${ix}_")).toSeq.sorted

  /** Untimed checks and counts after a cycle, then drops the index.
    * Digest names start with "ingest: ". */
  def verify(ctx: Ctx, in: Path, ix: String, survivors: Seq[Set[Long]],
             out: Outcome): Unit = {
    val baseTexts = texts(in.resolve("texts.tsv")).map(_._2).toSet
    var batchDocs = 0
    survivors.zipWithIndex.foreach { case (ids, b) =>
      val batch = texts(in.resolve(f"batch$b%02d.tsv"))
      batchDocs += batch.size
      out.check(s"batch $b drops verbatim copies of indexed docs")(
        batch.forall { case (id, t) => !(ids(id) && baseTexts(t)) })
      out.digest(s"ingest: batch $b survivors",
        Digest.ofLines(ids.iterator.map(_.toString)))
    }
    val wh = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      ctx.spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    var bytes = 0L
    var files = 0
    tables(ctx, ix).foreach { t =>
      out.digest(s"ingest: index table ${t.stripPrefix(ix)} rows",
        ctx.spark.table(t).count().toString)
      bytes += Digest.bytesOf(wh.resolve(t))
      files += Digest.filesOf(wh.resolve(t))
    }
    out.layer("index.files") = files
    out.layer("index.bytes_mb") = bytes / 1e6
    out.layer("streaming.survivor_frac") =
      survivors.map(_.size).sum.toDouble / batchDocs
    tables(ctx, ix).foreach(t => ctx.spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }
}
