package graft.perfbench

import scala.collection.mutable

/** Per-layer metrics of the traced passes, each a mean per pass unless it
  * is a ratio or a peak. Also adds the job and plan-phase spans under
  * their calls. Returns (name, value, unit, base) rows.
  */
object Layers {
  private val MB = 1024.0 * 1024

  def apply(t: Trace, calls: Seq[Main.Call], passes: Seq[Main.Pass],
      setup: Main.Setup, cores: Int, storageBaseBytes: Long, peakHeapMb: Double,
      spans: mutable.ArrayBuffer[Span], nextId: () => Long): Seq[(String, Double, String, String)] = {
    val n = passes.size.toDouble
    val byId = calls.map(c => c.id -> c).toMap

    // A job belongs to the call named in its description, else to the call
    // whose interval holds its start.
    def callAt(us: Long): Option[Main.Call] = calls.find(c => c.startUs <= us && us <= c.endUs)
    val jobsOf: Map[Long, Seq[Trace.Job]] = t.jobs.values.toSeq.flatMap { j =>
      j.desc.collect { case d if d.startsWith("bench:") => d.split(":").last.toLong }
        .flatMap(byId.get).orElse(callAt(j.startMs * 1000)).map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val actionsOf: Map[Long, Seq[Trace.Action]] = t.actions.toSeq.flatMap { a =>
      t.execStartMs.get(a.id).flatMap(ms => callAt(ms * 1000)).map(_.id -> a)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

    for (c <- calls) {
      jobsOf.getOrElse(c.id, Nil).foreach(j =>
        spans += Span(nextId(), c.id, s"job.${j.id}", j.startMs * 1000, j.endMs * 1000))
      actionsOf.getOrElse(c.id, Nil).foreach(_.phases.foreach { case (p, s, e) =>
        spans += Span(nextId(), c.id, s"plan.$p", s * 1000, e * 1000)
      })
    }

    /** Call time not covered by any of its jobs: planning, codegen and
      * driver code between jobs. */
    def driverSeconds(c: Main.Call): Double = {
      val iv = jobsOf.getOrElse(c.id, Nil)
        .map(j => (math.max(j.startMs * 1000, c.startUs), math.min(j.endMs * 1000, c.endUs)))
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (s, e) =>
        if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
        else ce = math.max(ce, e)
      }
      if (ce > cs) covered += ce - cs
      (c.endUs - c.startUs - covered) / 1e6
    }

    def sum(js: Iterable[Trace.Job])(f: Counters => Long): Double = js.iterator.map(j => f(j.counters)).sum.toDouble
    val rows = mutable.ArrayBuffer.empty[(String, Double, String, String)]
    def add(name: String, v: Double, unit: String, base: String = ""): Unit = rows += ((name, v, unit, base))

    for (m <- Workloads.modules) {
      val cs = calls.filter(c => Workloads.module.get(c.key).contains(m))
      val js = cs.flatMap(c => jobsOf.getOrElse(c.id, Nil))
      val tasks = sum(js)(_.tasks)
      add(s"$m.call_s", cs.map(_.seconds).sum / n, "s")
      add(s"$m.driver_s", cs.map(driverSeconds).sum / n, "s")
      add(s"$m.jobs", js.size / n, "count")
      add(s"$m.tasks_per_job", if (js.isEmpty) 0 else tasks / js.size, "count", s"${js.size} jobs")
      add(s"$m.executor_s", sum(js)(_.runMs) / 1e3 / n, "s")
      add(s"$m.gc_s", sum(js)(_.gcMs) / 1e3 / n, "s")
      add(s"$m.shuffle_mb", sum(js)(_.shuffleWrite) / MB / n, "MB")
      add(s"$m.spill_mb", sum(js)(_.spill) / MB / n, "MB")
    }
    val all = t.jobs.values
    add("sources.input_mb", sum(all)(_.input) / MB / n, "MB")
    add("sources.output_mb", sum(all)(_.output) / MB / n, "MB")

    add("session.create_s", setup.create, "s")
    add("session.warmup_s", setup.warmup, "s")
    add("session.memo_s", setup.memo, "s")
    add("session.release_s", calls.map(_.releaseUs / 1e6).sum / n, "s")

    val acts = t.actions.toSeq
    val (runs, hits) = (acts.map(_.ruleRuns).sum, acts.map(_.ruleHits).sum)
    add("extensions.rule_s", acts.map(_.ruleNs).sum / 1e9 / n, "s")
    add("extensions.rule_hit_ratio", if (runs == 0) 0 else hits.toDouble / runs, "ratio",
      s"$hits of $runs invocations")

    val wall = passes.map(_.wall).sum
    val runMs = sum(all)(_.runMs)
    add("spark.plan_s", acts.flatMap(_.phases).map { case (_, s, e) => e - s }.sum / 1e3 / n, "s")
    add("spark.jobs", all.size / n, "count")
    add("spark.stages", sum(all)(_.stages) / n, "count")
    add("spark.tasks", sum(all)(_.tasks) / n, "count")
    add("spark.core_busy_ratio", runMs / 1e3 / (wall * cores), "ratio",
      f"${runMs / 1e3}%.3f executor s over $wall%.3f s x $cores cores")
    add("spark.executor_cpu_s", sum(all)(_.cpuNs) / 1e9 / n, "s")
    add("spark.gc_s", sum(all)(_.gcMs) / 1e3 / n, "s")
    add("spark.shuffle_write_mb", sum(all)(_.shuffleWrite) / MB / n, "MB")
    add("spark.shuffle_read_mb", sum(all)(_.shuffleRead) / MB / n, "MB")
    add("spark.spill_mb", sum(all)(_.spill) / MB / n, "MB")
    add("spark.storage_peak_mb", (storageBaseBytes + t.peakHeldBytes) / MB, "MB")
    add("spark.broadcast_mb", acts.map(_.broadcastBytes).sum / MB / n, "MB")
    add("jvm.peak_heap_mb", peakHeapMb, "MB")
    rows.toSeq
  }
}
