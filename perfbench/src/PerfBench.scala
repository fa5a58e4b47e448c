package perfbench

import graft.{Bench, Caches, GraftSession, Pipelines, Tables}
import graft.ops.{Dedup, Events, Graph, Launches, Relational, Text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark harness: a closed loop of one client thread that issues one
  * query at a time against `GraftSession.local(cores)`, the way a nightly
  * batch or a notebook user runs the engine. It calls only the engine's
  * public functions and observes it only through public Spark listeners.
  *
  * Usage (perfbench/run.py builds the classpath and the inputs):
  *   PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --work <dir> --cores <n> --expected <file>
  *             [--record 1]
  *
  * Untraced runs print the end-to-end metrics; traced runs print the
  * per-layer metrics and write every span to `<work>/trace/`. With
  * `--record 1` one pass prints each output's checksum instead of checking
  * it (how `expected.tsv` is made, after an oracle compare). */
object PerfBench {

  type Fn = (SparkSession, String) => DataFrame

  /** One workload: its queries, the input tier they read, and the tier the
    * warm-up pass reads. */
  final case class Workload(queries: Seq[(String, Fn)], tier: String, inputDir: String,
      warmDir: String)

  /** The paper's own ELT: the launches staging view and mart (q30, q31) and
    * the group-by-year mart over orders (q13). */
  val EltCore = Seq("q13_status_rate_by_year", "q30_launches_mart", "q31_launches_latest")

  /** Loop queries whose rounds run inside the call that builds the query: a 145-job
    * time-series fold (q252) and Lloyd/PQ training whose loop attaches its
    * codebook by a nested-loop join (q282). Their job counts do not depend
    * on the input size. */
  val LoopQueries = Seq("q252_holt_winters", "q282_trained_ivfpq_recall")

  def workload(name: String, data: String, seed: Long, work: String): Workload = {
    val all = graft.SparkEntry.queries
    val warm = s"$data/sf0.001"
    name match {
      case "elt_marts" =>
        val rest = (Relational.queries ++ Events.queries).toSeq
          .filter { case (n, _) => !EltCore.contains(n) && n != "q260_markov_attribution" }
          .sortBy(_._1)
        val core = EltCore.map(n => n -> all(n))
        Workload(core ++ rest.zipWithIndex.collect { case (q, i) if i % 9 == 0 => q },
          "sf0.01", s"$data/sf0.01", warm)
      case "iterative_loops" =>
        Workload(LoopQueries.map(q => q -> all(q)), "sf0.01", s"$data/sf0.01", warm)
      case "corpus_5x" =>
        val fn: Fn = (s, dir) => Pipelines.prepareCorpus(s, dir, s"$work/corpus_out")
        Workload(Seq("q101_corpus_pipeline" -> fn), "corpus5x", s"$data/corpus5x_seed$seed", warm)
      case other => sys.error(s"unknown workload $other")
    }
  }

  /** Order-insensitive checksum over every output column (the
    * `Verify.profileJson` table checksum), so no column is pruned away from
    * the timed action the way a bare count() would allow. */
  def checksum(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("rows"),
      sum(xxhash64(to_json(struct(df.schema.fields.map(f => col(f.name)).toIndexedSeq: _*)))
        .cast("decimal(38,0)")).as("ck"))

  def render(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${if (r.isNullAt(1)) "0" else r.get(1).toString}"

  /** The warm-up pass: every query of the workload once on the sf0.001
    * tier, one at a time on this thread, as the measured passes run them.
    * Returns the failures. */
  def warmUp(spark: SparkSession, wl: Workload): Seq[(String, Throwable)] =
    wl.queries.flatMap { case (name, fn) =>
      try { checksum(fn(spark, wl.warmDir)).collect(); None }
      catch { case NonFatal(e) => Some(name -> e) }
      finally Caches.releaseAll()
    }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val arg = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val record = arg.get("record").contains("1")
    val (data, work, cores) = (arg("data"), arg("work"), arg("cores").toInt)
    val wl = workload(wlName, data, seed, work)
    val expected: Map[(String, String), String] =
      if (record) Map.empty
      else scala.io.Source.fromFile(arg("expected")).getLines()
        .map(_.split('\t')).collect { case Array(t, q, v) => (t, q) -> v }.toMap

    var attempted = 0L
    var failed = 0L
    var leakedTotal = 0L
    val recorded = mutable.ArrayBuffer.empty[String]

    // ---- set-up, timed from JVM start: session start + warm-up pass
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    warmUp(spark, wl).foreach { case (name, e) =>
      failed += 1
      System.err.println(s"[perfbench] warm-up $name failed: ${e.getMessage}")
    }
    attempted += wl.queries.size
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext

    // ---- one query invocation: build, plan, action, check, release
    val trace = new Trace(traced)
    var seq = 0
    final case class Sample(name: String, wall: Double, group: String, span: Option[Span],
        entries: Int, releaseS: Double, epochMs: (Long, Long))
    def runQuery(name: String, fn: Fn): Sample = {
      seq += 1
      val group = s"$name#$seq"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      attempted += 1
      val t0 = System.nanoTime()
      val e0 = System.currentTimeMillis()
      val firstSpan = trace.spans.size
      var entries = 0
      var releaseS = 0.0
      trace("query", name) {
        try {
          val df = trace("build")(fn(spark, wl.inputDir))
          val ck = checksum(df)
          trace("plan")(ck.queryExecution.executedPlan)
          val got = render(trace("action")(ck.collect()(0)))
          trace("check") {
            if (record) recorded += s"${wl.tier}\t$name\t$got"
            else if (!expected.get((wl.tier, name)).contains(got)) {
              failed += 1
              System.err.println(s"[perfbench] $name output mismatch: got $got, " +
                s"expected ${expected.getOrElse((wl.tier, name), "none")}")
            }
          }
        } catch { case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        }
        trace("release") {
          val r0 = System.nanoTime()
          entries = Caches.liveCount
          Caches.releaseAll()
          val leaked = Caches.liveCount
          releaseS = (System.nanoTime() - r0) / 1e9
          if (leaked != 0) {
            leakedTotal += leaked
            failed += 1
            System.err.println(s"[perfbench] $name leaked $leaked cache entries")
          }
        }
      }
      sc.clearJobGroup()
      val span = if (trace.on) Some(trace.spans(firstSpan)) else None
      Sample(name, (System.nanoTime() - t0) / 1e9, group, span, entries, releaseS,
        (e0, System.currentTimeMillis()))
    }

    // ---- measured passes: whole passes in a seeded order until `seconds`
    // have elapsed
    val rng = new scala.util.Random(seed)
    def measure(): (Seq[Seq[Sample]], Seq[Double]) = {
      val passes = mutable.ArrayBuffer.empty[Seq[Sample]]
      val walls = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
        // every pass is a fresh batch: trainers memoized by an earlier pass
        // (Caches.memoize) retrain, so all passes do the same work
        Caches.releaseMemos()
        val p0 = System.nanoTime()
        val order = rng.shuffle(wl.queries)
        passes += trace("pass", s"${passes.size}") {
          order.map { case (n, fn) => runQuery(n, fn) }
        }
        walls += (System.nanoTime() - p0) / 1e9
      }
      (passes.toSeq, walls.toSeq)
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def pct(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted
      s(math.max(0, math.ceil(q * s.size).toInt - 1))
    }
    def loadAvg(): String = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    def peakRssMb(): Double = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    /** (files, bytes) of the data files under `d`: no checksum or marker files. */
    def dirBytes(d: String): (Long, Long) = {
      val f = new File(d)
      if (!f.exists) (0L, 0L)
      else {
        val files = Files.walk(f.toPath).toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
            !p.getFileName.toString.startsWith("_"))
        (files.length.toLong, files.map(Files.size(_)).sum)
      }
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val loadBefore = loadAvg()

    if (!traced) {
      val (passes, walls) = measure()
      val lat = passes.flatten.map(_.wall)
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (median(walls), "s")
      metrics("query_p50_s") = (median(lat), "s")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
      // a p90 over this few samples is not gated, only printed
      println(f"[perfbench] $wlName seed=$seed passes=${passes.size} samples=${lat.size} " +
        f"query_p90_s=${pct(lat, 0.9)}%.4f " +
        f"session_start_s=$sessionStartS%.3f " +
        f"fail_ratio=${failed.toDouble / attempted}%.4f ($failed/$attempted) " +
        s"loadavg_before=[$loadBefore] loadavg_after=[${loadAvg()}]")
    } else {
      val probe = new Probe
      // Bench's canaries cost ~7 s (CPU) and ~19 s (shuffle) on the reference
      // host: the CPU canary is taken before and after, the shuffle canary
      // once, after, to keep a traced run inside the time budget
      def canary(f: SparkSession => Double): Double =
        if (record) 0.0
        else {
          sc.setJobGroup("probe:canary", "canary", interruptOnCancel = false)
          try f(spark) finally sc.clearJobGroup()
        }
      val cpu0 = canary(Bench.canaryCpu)
      sc.addSparkListener(probe)
      spark.listenerManager.register(probe)
      // local mode runs the executors inside this JVM, so its collectors'
      // time over the passes is the executors' GC plus the planner's
      def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum
      val gc0 = gcMs()
      val (passes, walls) = trace("run", wlName)(measure())
      val gcPassMs = gcMs() - gc0
      val nP = passes.size.toDouble

      // ---- layer probes: each timed standalone, its output checked
      def probeRun(name: String, tier: String)(df: => DataFrame): Double = {
        sc.setJobGroup(s"probe:$name", name, interruptOnCancel = false)
        attempted += 1
        val t0 = System.nanoTime()
        try {
          val got = render(checksum(df).collect()(0))
          if (record) recorded += s"$tier\t$name\t$got"
          else if (!expected.get((tier, name)).contains(got)) {
            failed += 1
            System.err.println(s"[perfbench] probe $name output mismatch: got $got")
          }
        } catch { case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] probe $name failed: ${e.getMessage}")
        } finally Caches.releaseAll()
        sc.clearJobGroup()
        (System.nanoTime() - t0) / 1e9
      }
      probe.drain()
      val perQuery = passes.flatten.map { s =>
        val c = probe.take(s.group)
        c.prepareNs = probe.planningNs(s.epochMs._1, s.epochMs._2)
        s -> c
      }
      val tot = new Counters
      perQuery.foreach { case (s, c) =>
        tot += c
        s.span.foreach(sp => trace.addJobs(sp, c.jobSpans.toSeq))
      }
      val dataRoot = new File(data).getCanonicalPath
      val scanned = tot.scannedPaths.toSeq.map(_.stripPrefix("file:"))
        .filter(p => new File(p).getCanonicalPath.startsWith(dataRoot)).sorted
      val scanS = scanned.map { p =>
        probeRun(s"scan:${new File(p).getName}", wl.tier) {
          spark.read.parquet(p)
        }
      }.sum
      // pipeline and kernel probes run on one fixed small tier for every
      // workload, so their numbers compare across workloads (shingling alone
      // takes ~20 s over the 5,000 sf0.1 documents)
      val probeDir = s"$data/sf0.01"
      val dedupS = probeRun("pipeline.dedup", "sf0.01") {
        Dedup.cleanedCorpus(spark, probeDir, s"$work/dedup_out")
      }
      val prepareS = probeRun("pipeline.prepare", "sf0.01") {
        Pipelines.prepareCorpus(spark, probeDir, s"$work/probe_corpus")
      }
      val (ioFiles, ioBytes) = dirBytes(s"$work/probe_corpus")
      val nDocs = spark.read.parquet(s"$probeDir/documents.parquet").count()
      val docBytes = Files.size(Paths.get(s"$probeDir/documents.parquet"))
      val tokensS = probeRun("kernel.tokens", "sf0.01") {
        Tables.documents(spark, probeDir)
          .select(size(Text.shingles5(Text.tokens(col("text")))).as("n"))
      }
      // q117 and q171 are pageRank and labelPropagation over tradeEdges
      // with a projection on top, so their oracles check these outputs
      val pagerankS = probeRun("kernel.pagerank", "sf0.01")(Graph.q117Pagerank(spark, probeDir))
      val labelPropS = probeRun("kernel.label_prop", "sf0.01") {
        Graph.q171LpaCommunities(spark, probeDir)
      }
      val cpu1 = canary(Bench.canaryCpu)
      val shuffle1 = canary(Bench.canaryShuffleIo)

      // ---- per-layer numbers, per pass
      val querySpans = passes.flatten.flatMap(_.span)
      val jobSpans = trace.spans.filter(_.kind == "job")
      val self = trace.selfByKind(trace.spans.filter(_.kind == "run").toSeq)
      val querySelfNs = trace.selfByKind(querySpans).values.sum
      val queryWallNs = querySpans.map(s => s.end - s.start).sum
      val jobCoveredNs = querySpans.map(q => trace.coveredByKind(q, "job")).sum
      val buildIds = trace.spans.filter(_.kind == "build").map(_.id).toSet
      def per(x: Double): Double = x / nP
      val m = metrics
      m("session.start_s") = (sessionStartS, "s")
      m("ops.build_s") = (per(trace.spans.filter(_.kind == "build").map(s => s.end - s.start).sum / 1e9), "s")
      m("ops.build_jobs") = (per(jobSpans.count(j => buildIds(j.parent)).toDouble), "count")
      m("plan.prepare_s") = (per(tot.prepareNs / 1e9), "s")
      m("plan.sql_execs") = (per(tot.sqlExecs.toDouble), "count")
      m("plan.exchanges") = (per(tot.exchanges.toDouble), "count")
      m("plan.bnlj") = (per(tot.bnlj.toDouble), "count")
      m("plan.cartesian") = (per(tot.cartesian.toDouble), "count")
      m("sched.jobs") = (per(tot.jobs.toDouble), "count")
      m("sched.stages") = (per(tot.stages.toDouble), "count")
      m("sched.tasks") = (per(tot.tasks.toDouble), "count")
      m("sched.job_s") = (per(jobCoveredNs / 1e9), "s")
      m("sched.driver_gap_s") = (per((queryWallNs - jobCoveredNs) / 1e9), "s")
      m("exec.task_s") = (per(tot.taskMs / 1e3), "s")
      m("exec.cpu_s") = (per(tot.cpuNs / 1e9), "s")
      m("exec.gc_s") = (per(gcPassMs / 1e3), "s")
      m("exec.busy_ratio") = (if (jobCoveredNs > 0) tot.taskMs / 1e3 / (jobCoveredNs / 1e9 * cores) else 0.0, "ratio")
      m("shuffle.write_mb") = (per(tot.shuffleWriteB / 1e6), "MB")
      m("shuffle.read_mb") = (per(tot.shuffleReadB / 1e6), "MB")
      m("shuffle.spill_mb") = (per(tot.spillB / 1e6), "MB")
      m("tables.input_mb") = (per(tot.inputB / 1e6), "MB")
      m("tables.scan_s") = (scanS, "s")
      m("caches.entries") = (per(passes.flatten.map(_.entries).sum.toDouble), "count")
      m("caches.release_s") = (per(passes.flatten.map(_.releaseS).sum), "s")
      m("caches.leaked") = (leakedTotal.toDouble, "count")
      m("pipeline.prepare_s") = (prepareS, "s")
      m("pipeline.dedup_s") = (dedupS, "s")
      m("pipeline.docs_per_s") = (nDocs / prepareS, "1/s")
      m("io.write_mb") = (ioBytes / 1e6, "MB")
      m("io.files") = (ioFiles.toDouble, "count")
      m("io.write_amp") = (ioBytes.toDouble / docBytes, "ratio")
      m("kernel.tokens_s") = (tokensS, "s")
      m("kernel.pagerank_s") = (pagerankS, "s")
      m("kernel.label_prop_s") = (labelPropS, "s")
      m("host.canary_cpu_s") = ((cpu0 + cpu1) / 2, "s")
      m("host.canary_shuffle_s") = (shuffle1, "s")
      for (k <- Seq("pass", "query", "build", "plan", "action", "check", "release", "job"))
        m(s"self.${k}_s") = (per(self.getOrElse(k, 0L) / 1e9), "s")
      m("trace.accounted_ratio") = (querySelfNs.toDouble / queryWallNs, "ratio")
      m("trace.wall_s") = (median(walls), "s")
      m("trace.spans") = (per(trace.spans.size.toDouble), "count")

      // ---- spans and per-query counters to <work>/trace/
      val dir = new File(s"$work/trace"); dir.mkdirs()
      val t0 = trace.spans.headOption.map(_.start).getOrElse(0L)
      val qj = perQuery.map { case (s, c) =>
        f"""{"query":"${s.name}","wall_s":${s.wall}%.6f,"sql_execs":${c.sqlExecs},"exchanges":${c.exchanges},"bnlj":${c.bnlj},"cartesian":${c.cartesian},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_s":${c.taskMs / 1e3}%.3f,"prepare_s":${c.prepareNs / 1e9}%.4f,"shuffle_write_mb":${c.shuffleWriteB / 1e6}%.3f,"input_mb":${c.inputB / 1e6}%.3f}"""
      }.mkString("[\n", ",\n", "\n]")
      val canaryJ = f"""{"cpu_before_s":$cpu0%.4f,"cpu_after_s":$cpu1%.4f,"shuffle_after_s":$shuffle1%.4f}"""
      Files.writeString(Paths.get(s"$dir/$wlName-seed$seed.json"),
        s"""{"workload":"$wlName","seed":$seed,"canaries":$canaryJ,"queries":$qj,"spans":${trace.json(t0)}}\n""")
      println(s"[perfbench] $wlName seed=$seed traced passes=${passes.size} canaries=$canaryJ " +
        s"spans=${trace.spans.size} -> $dir/$wlName-seed$seed.json")
    }

    if (record) recorded.foreach(println)
    metrics.foreach { case (k, (v, u)) => println(f"[perfbench] $k%-22s $v%14.6f $u") }
    Caches.releaseMemos()
    spark.stop()
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
  }
}
