package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Order-independent digests of outputs: a row count and a sum of
  * 64-bit row hashes, so two runs that emit the same multiset of rows
  * in any order, on any partitioning, agree. Decimal numbers are
  * rounded to 9 significant digits first, because floating-point sums
  * depend on the order partial sums meet. */
object Digest {
  private val Decimal = "-?\\d+\\.\\d+(?:[eE]-?\\d+)?".r

  def normalize(line: String): String =
    Decimal.replaceAllIn(line, m =>
      BigDecimal(m.matched).round(new java.math.MathContext(9))
        .bigDecimal.stripTrailingZeros.toPlainString)

  private def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x3c6ef372).toLong << 32) ^
      (stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def ofLines(lines: Iterator[String]): String = {
    var n = 0L
    var sum = 0L
    lines.foreach { l => n += 1; sum += hash64(normalize(l)) }
    f"$n:$sum%016x"
  }

  /** Data files of a stored relation: every file not hidden by a `_` or
    * `.` prefix, recursively. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith(".")).toVector
      finally s.close()
    }

  def linesOf(dir: Path): Iterator[String] =
    dataFiles(dir).iterator.flatMap(p =>
      new String(Files.readAllBytes(p), UTF_8).split("\n").iterator
        .filter(_.nonEmpty))

  /** Rows of a stored relation, one tab-joined line each: graft STOREs
    * parquet by default and text under PigStorage. */
  def storedRows(spark: org.apache.spark.sql.SparkSession,
                 dir: Path): Seq[String] =
    if (dataFiles(dir).exists(_.getFileName.toString.endsWith(".parquet")))
      spark.read.parquet(dir.toString).collect().toSeq
        .map(_.toSeq.map(render).mkString("\t"))
    else linesOf(dir).toSeq

  /** Rows of a stored relation without reading its data: the row
    * counts in parquet footers, or the lines of a text store. */
  def rowCount(dir: Path): Long = {
    val files = dataFiles(dir)
    if (files.exists(_.getFileName.toString.endsWith(".parquet"))) {
      val conf = new org.apache.hadoop.conf.Configuration()
      files.filter(_.getFileName.toString.endsWith(".parquet")).map { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toUri), conf))
        try r.getRecordCount finally r.close()
      }.sum
    } else linesOf(dir).size.toLong
  }

  /** A field as Pig prints it: null empty, maps, bags and tuples
    * bracketed, map entries sorted. */
  def render(v: Any): String = v match {
    case null => ""
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"$k#${render(x)}" }.sorted
        .mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("{", ",", "}")
    case other => other.toString
  }

  /** Bytes under a directory, hidden files included. */
  def bytesOf(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  def filesOf(dir: Path): Int =
    if (!Files.exists(dir)) 0
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("."))
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
