package graftbench

import scala.collection.mutable

/** The per-layer figures of a traced window, named after graft's
  * modules. A layer a workload does not exercise reads 0. */
object Layers {

  def metrics(rep: LayerReport, out: Outcome, codegen: (Long, Double))
      : Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]

    // frontend: PigRunner.run repeats preprocessing and parsing
    // internally, so interpretation is their self time less
    // the separately timed preprocess and parse
    val pre = rep.totalMs(_ == "frontend.preprocess")
    val parse = rep.totalMs(_ == "frontend.parse")
    m("frontend.preprocess_ms") = pre
    m("frontend.parse_ms") = parse
    m("frontend.interpret_ms") = math.max(0.0,
      rep.named(_ == "frontend.run").map(rep.selfMs).sum - pre - parse)
    m("frontend.statements") = rep.counted("frontend.statements")

    m("plans.analysis_ms") = rep.execs.map(_.analysisMs).sum
    m("plans.optimization_ms") = rep.execs.map(_.optimizationMs).sum
    m("plans.planning_ms") = rep.execs.map(_.planningMs).sum
    m("plans.graft_rules_ms") = rep.execs.map(_.graftRulesMs).sum
    m("plans.codegen_compiles") = codegen._1.toDouble
    m("plans.codegen_ms") = codegen._2
    m("plans.actions") = rep.execs.size

    val t = rep.tasks
    val mb = 1e6
    m("exec.jobs") = rep.jobs
    m("exec.stages") = rep.stages
    m("exec.tasks") = t.size
    m("exec.task_ms") = t.map(_.runMs).sum
    m("exec.cpu_ms") = t.map(_.cpuMs).sum
    m("exec.gc_ms") = t.map(_.gcMs).sum
    m("exec.busy_frac") = rep.busyFrac
    m("exec.shuffle_read_mb") = t.map(_.shuffleReadB).sum / mb
    m("exec.shuffle_write_mb") = t.map(_.shuffleWriteB).sum / mb
    m("exec.fetch_wait_ms") = t.map(_.fetchWaitMs).sum
    m("exec.spill_mb") = t.map(_.spillB).sum / mb
    m("exec.input_mb") = t.map(_.inputB).sum / mb
    m("exec.output_mb") = t.map(_.outputB).sum / mb

    Curation.Stages.foreach { s =>
      m(s"text.${s}_s") = rep.totalMs(_ == s"text.$s") / 1e3
      m(s"text.${s}_rows") = out.layer.getOrElse(s"text.${s}_rows", 0.0)
    }

    val ix = Ingest.Prefix
    val batchExecs = rep.execsUnder(_ == "streaming.ingest_batch")
    val (appends, rest) = batchExecs.partition(_.writesTable.exists(_.startsWith(ix)))
    m("index.build_s") = rep.totalMs(_ == "index.build") / 1e3
    m("index.probe_ms") = rep.unionMs(rest.filter(_.readsWatched)
      .map(e => (e.start, e.end)))
    m("index.append_ms") = rep.unionMs(appends.map(e => (e.start, e.end)))
    Seq("index.files", "index.bytes_mb", "streaming.survivor_frac")
      .foreach(k => m(k) = out.layer.getOrElse(k, 0.0))
    m("streaming.batch_ms") = rep.totalMs(_ == "streaming.ingest_batch")

    PigBatch.scripts.foreach(i =>
      m(s"pig.L${i}_s") = rep.totalMs(_ == s"pig.L$i") / 1e3)

    m("trace.items_per_s") = out.itemsPerS
    m.toMap
  }
}
