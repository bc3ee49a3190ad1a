package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Tests of the benchmark itself: deterministic generators, a tiny
  * smoke run of every workload that reports every metric of
  * BENCHMARK.json, and checks that flag planted wrong outputs. */
class PerfbenchSpec extends AnyFunSuite {

  private val bench: Path = Path.of("").toAbsolutePath
  private val repo: Path = bench.getParent
  private val json = new ObjectMapper()
  private def tmp(p: String): Path = Files.createTempDirectory(p)

  private def tree(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
      dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  test("PigMix generator: same seed, same bytes; another seed, same shape") {
    val size = Gen.PigMixSize(3000, 400, 20)
    val (a, b, c) = (tmp("pm"), tmp("pm"), tmp("pm"))
    Gen.pigmix(a, 7L, size); Gen.pigmix(b, 7L, size); Gen.pigmix(c, 8L, size)
    assert(tree(a) == tree(b))
    assert(tree(a)("page_views/part-00000") != tree(c)("page_views/part-00000"))
    for (d <- Seq(a, c)) {
      val pv = Files.readAllLines(d.resolve("page_views/part-00000")).asScala
      assert(pv.size == 3000)
      assert(pv.forall(_.split("\u0001", -1).length == 9))
      val noUser = pv.count(_.startsWith("\u0001")).toDouble / pv.size
      assert(noUser > 0.03 && noUser < 0.07, s"empty-user share $noUser")
    }
  }

  test("document generator: deterministic, with the stated language mix and dup shares") {
    val spec = Gen.DocsSpec(4000, exactPct = 4, nearPct = 6)
    assert(Gen.documents(3L, spec) == Gen.documents(3L, spec))
    for (seed <- Seq(3L, 4L)) {
      val docs = Gen.documents(seed, spec).map(_._2)
      val exact = docs.size - docs.distinct.size
      assert(exact > 0.025 * docs.size && exact < 0.055 * docs.size,
        s"exact dups $exact")
      val spam = docs.count(_.contains("$$$")).toDouble / docs.size
      assert(spam > 0.05 && spam < 0.15, s"spam share $spam")
    }
    assert(Gen.documents(3L, spec) != Gen.documents(4L, spec))
  }

  test("a digest that changes between repetitions counts as a failure") {
    val o = new Outcome
    o.digest("x", "1:00"); o.digest("x", "1:00")
    assert(o.failed == 0)
    o.digest("x", "2:01")
    assert(o.failed == 1 && o.attempted == 2)
    assert(Digest.ofLines(Iterator("a\t1.0000000001", "b")) ==
      Digest.ofLines(Iterator("b", "a\t1.0")))
    assert(Digest.ofLines(Iterator("a\t1.5", "b")) !=
      Digest.ofLines(Iterator("a\t1.6", "b")))
  }

  private def run(workload: String, trace: Boolean): JsonNode = {
    val root = tmp("run")
    val record = root.resolve("record.json")
    Main.main(Array("--workload", workload, "--seed", "3", "--seconds", "1",
      "--trace", if (trace) "1" else "0", "--repo", repo.toString,
      "--root", root.toString, "--record", record.toString,
      "--cores", "2", "--tiny", "1"))
    json.readTree(Files.readAllBytes(record))
  }

  private val spec = json.readTree(repo.resolve("BENCHMARK.json").toFile)
  private def names(group: String): Seq[String] =
    spec.get(group).elements().asScala.map(_.get("name").asText).toSeq

  for (w <- Workload.all.map(_.name)) {
    test(s"tiny traced smoke run of $w passes and reports every metric") {
      val r = run(w, trace = true)
      assert(r.get("failed").asInt == 0, r.get("problems").toString)
      assert(r.get("attempted").asInt > 0)
      for ((group, key) <- Seq("end_to_end" -> "end_to_end",
                               "per_layer" -> "per_layer");
           n <- names(group))
        assert(r.get(key).has(n), s"$w: $group metric $n missing")
    }
  }

  test("a planted wrong output fails the L8 twin check") {
    val a = Main.parse(Array("--workload", "pig_batch", "--seed", "3",
      "--seconds", "1", "--trace", "0", "--repo", repo.toString,
      "--root", tmp("run").toString, "--record", "/dev/null",
      "--cores", "2", "--tiny", "1"))
    val inputs = tmp("in")
    PigBatch.generate(inputs, 3L, tiny = true)
    val spark = Main.session(a)
    try {
      val ctx = new Ctx(spark, new Tracer(false), inputs, a.root.resolve("w"),
        bench, 3L, 2, tiny = true)
      import spark.implicits._
      Seq((1L, 1.0)).toDF("s", "a").write
        .parquet(ctx.work.resolve("p1/L8/L8out").toString)
      val o = new Outcome
      PigBatch.verify(ctx, o)
      assert(o.problems.exists(_.startsWith("L8")), o.problems)
    } finally spark.stop()
  }
}
