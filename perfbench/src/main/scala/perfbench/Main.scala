package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SessionCaches, SparkEntry, Tables}

/** Runs one workload in one JVM with one client, in a closed
  * loop (each query starts when the previous one has finished):
  *
  *  1. set-up: build the session and resolve the workload's table handles
  *     and the query registry, once from JVM start, then again
  *     [[Run.resetups]] times after stopping the context;
  *  2. the first pass, on a cold JVM and cold caches;
  *  3. cache-cold passes, each in a fresh `newSession()` after
  *     `SessionCaches.evictSession` on the previous one;
  *  4. warm passes in the last cold pass's session.
  *
  * A pass resolves the table handles (`Tables.*`), builds `stocks` where
  * the workload uses it, then calls every query's registry entry
  * (`query.build`) and runs its plan into the noop sink (`query.exec`),
  * in an order drawn from `--seed`. Output digests are checked against
  * the golden file on the first cold pass and the last warm pass, outside
  * the timed region. Pass counts are fixed per workload, so every run does
  * the same work; `--seconds` is accepted and not used.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *   --out DIR --golden FILE`
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, out: String, golden: String)

  def parse(args: Seq[String]): Opts = {
    val kv = mutable.Map[String, String]()
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      case k :: v :: tail if k.startsWith("--") => kv(k.drop(2)) = v; rest = tail
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("out"), need("golden"))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try new Run(parse(args.toSeq)).run()
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    sys.exit(code)
  }
}

/** Per-layer figures of one pass, summed over its queries. */
object Layers {
  val keys: Seq[(String, String)] = Seq(
    "Tables.resolve_s" -> "s", "Tables.stocks_build_s" -> "s",
    "query.build_s" -> "s", "query.exec_s" -> "s", "query.jobs_in_build" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.wall_s" -> "s",
    "plan.exchanges" -> "count", "plan.broadcasts" -> "count",
    "plan.unpartitioned_windows" -> "count",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.idle_s" -> "s",
    "operators.busy_s" -> "s", "operators.exec_run_s" -> "s",
    "operators.exec_cpu_s" -> "s", "operators.gc_s" -> "s",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.spill_mb" -> "MB",
    "shuffle.fetch_wait_s" -> "s", "scan.input_mb" -> "MB",
    "Sink.files_written" -> "count", "Sink.stored_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.batch_p50_s" -> "s",
    "unattributed_s" -> "s")

  /** The layers that partition a pass's wall time. */
  val wallParts: Seq[String] = Seq("Tables.resolve_s", "Tables.stocks_build_s",
    "catalyst.wall_s", "scheduler.idle_s", "operators.busy_s", "unattributed_s")
}

/** One pass's wall time, per-query times and (traced) layer figures. */
final case class Pass(wall: Double, queryS: Map[String, Double],
    layers: Map[String, Double], traced: Boolean)

final class Run(o: Main.Opts) {
  import Events._

  private val wl = Workloads.byName(o.workload)
  private val rnd = new scala.util.Random(o.seed)
  private val data = Paths.get(o.data).toAbsolutePath.toString
  private val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
  private val recorder = if (o.trace) Some(new Recorder) else None
  private val tracer = new Tracer
  private var attempted = 0
  private var failed = 0
  private val golden: Map[String, Digest.Value] = loadGolden()
  private var registry: Map[String, (SparkSession, String) => DataFrame] = Map.empty

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9
  private def log(s: String): Unit = println(s"[perfbench] $s")

  private def loadGolden(): Map[String, Digest.Value] = {
    val p = Paths.get(o.golden)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, d) = l.split("\t"); q -> Digest.parse(d) }.toMap
  }

  private def resolveTables(s: SparkSession): Unit = wl.tables.foreach {
    case "lineitem" => Tables.lineitem(s, data)
    case "embeddings" => Tables.embeddings(s, data)
    case t => throw new IllegalArgumentException(s"no Tables loader for $t")
  }

  /** Set-up: build the session, resolve the workload's table handles and
    * take the query registry. The first set-up is timed from JVM start;
    * then the context is stopped and set up again [[Run.resetups]] times
    * in this JVM. Returns the last session, the first set-up's time and
    * the re-set-ups' times.
    */
  private def setup(): (SparkSession, Double, Seq[Double]) = {
    def once(): SparkSession = {
      val s = Session.build(Session.cpus)
      resolveTables(s)
      if (wl.stocks) Tables.stocks(s, data)
      registry = SparkEntry.queries
      s
    }
    var spark = once()
    val ready = now()
    val jvmStart = ready - (System.currentTimeMillis() - Run.jvmStartMs) * 1000000L
    if (o.trace) tracer.add(runSpan, "setup 0", jvmStart, ready)
    val again = (1 to Run.resetups).map { i =>
      Session.stop(spark)
      System.gc() // the stopped context's garbage, outside the timed region
      val t0 = now()
      spark = once()
      val t1 = now()
      if (o.trace) tracer.add(runSpan, s"setup $i", t0, t1)
      secs(t1 - t0)
    }
    (spark, secs(ready - jvmStart), again)
  }

  private def watchSession(s: SparkSession): SparkSession = {
    recorder.foreach { r =>
      s.listenerManager.register(r.qeListener)
      s.streams.addListener(r.streamingListener)
    }
    s
  }

  /** Non-hidden files in the engine's directories under the JVM temp dir
    * (where it keeps stored indexes): path -> (bytes, mtime). Files
    * directly in the temp dir (native libraries unpacked by codecs) and
    * the JVM's `hsperfdata_*` are not the engine's.
    */
  private def tmpFiles(): Map[String, (Long, Long)] = {
    val out = mutable.Map[String, (Long, Long)]()
    if (Files.exists(tmpRoot)) {
      val it = Files.walk(tmpRoot).iterator().asScala
      it.foreach { p =>
        val n = p.getFileName.toString
        val rel = tmpRoot.relativize(p)
        if (rel.getNameCount > 1 && !rel.getName(0).toString.startsWith("hsperfdata_") &&
            Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_"))
          try out(p.toString) = (Files.size(p), Files.getLastModifiedTime(p).toMillis)
          catch { case _: java.io.IOException => () }
      }
    }
    out.toMap
  }

  private def inputBytes(): Long = wl.tables.map { t =>
    Files.walk(Paths.get(data, s"$t.parquet")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")
        && !p.getFileName.toString.startsWith("_"))
      .map(p => Files.size(p)).sum
  }.sum

  private def checkDigest(q: String, where: String, df: DataFrame): Unit = {
    val d = Digest.of(df)
    log(s"digest $where $q $d")
    val expected = golden.get(q)
    if (!expected.contains(d)) {
      failed += 1
      System.err.println(
        s"[perfbench] $q: digest $d on $where, expected ${expected.getOrElse("none (not in golden file)")}")
    }
  }

  /** Split the listener events recorded since the last drain over
    * consecutive segments [lo, hi) by event time (an event before the
    * first segment goes to the first), add a span per segment under
    * `parent` with catalyst-phase and job children, and, when `acc` is
    * given, sum each segment's layer figures into it.
    */
  private def traceSegments(spark: SparkSession, parent: Int, segs: Seq[(String, Long, Long)],
      acc: Option[mutable.Map[String, Double]]): Unit = {
    org.apache.spark.GraftListenerShims.flushListeners(spark.sparkContext)
    val evs = recorder.get.drain()
    def add(k: String, v: Double): Unit = acc.foreach(a => a(k) = a.getOrElse(k, 0.0) + v)
    def segOf(t: Long): Int = math.max(0, segs.lastIndexWhere(_._2 <= t))
    segs.zipWithIndex.foreach { case ((seg, lo, hi), i) =>
      def mine(t: Long) = segOf(t) == i
      val jobs = evs.collect { case j: Job if mine(j.start) => j }
      val tasks = evs.collect { case t: Task if mine(t.launch) => t }
      val qes = evs.collect { case x: Qe if x.phases.nonEmpty && mine(x.phases.values.map(_._2).max) => x }
      val stages = evs.count { case s: Stage => mine(s.at); case _ => false }
      val batches = evs.collect { case b: Batch if mine(b.at) => b }
      val phases = qes.flatMap(_.phases.toSeq)
      val jobIv = jobs.map(j => (j.start, j.end))
      val jobsWall = Spans.covered(jobIv, lo, hi)
      val busy = Spans.covered(tasks.map(t => (t.launch, t.finish)), lo, hi)
      val coveredWall = Spans.covered(jobIv ++ phases.map(_._2), lo, hi)
      val segSpan = tracer.add(parent, seg, lo, hi, Map(
        "jobs" -> jobs.size.toDouble, "stages" -> stages.toDouble,
        "tasks" -> tasks.size.toDouble))
      phases.foreach { case (ph, (a, b)) => tracer.add(segSpan, s"catalyst.$ph", a, b) }
      jobs.foreach { j =>
        val jt = tasks.filter(t => t.launch >= j.start && t.launch <= j.end)
        tracer.add(segSpan, s"job ${j.id}", j.start, j.end, Map(
          "stages" -> j.stages.toDouble, "tasks" -> jt.size.toDouble,
          "busy_s" -> secs(Spans.covered(jt.map(t => (t.launch, t.finish)), j.start, j.end))))
      }
      add(s"query.${seg}_s", secs(hi - lo))
      if (seg == "build") add("query.jobs_in_build", jobs.size)
      Seq("analysis", "optimization", "planning").foreach { ph =>
        add(s"catalyst.${ph}_s", phases.filter(_._1 == ph).map(p => secs(p._2._2 - p._2._1)).sum)
      }
      add("catalyst.wall_s", secs(coveredWall - jobsWall))
      add("plan.exchanges", qes.map(_.exchanges).sum)
      add("plan.broadcasts", qes.map(_.broadcasts).sum)
      add("plan.unpartitioned_windows", qes.map(_.unpartitionedWindows).sum)
      add("scheduler.jobs", jobs.size)
      add("scheduler.stages", stages)
      add("scheduler.tasks", tasks.size)
      add("scheduler.idle_s", secs(jobsWall - busy))
      add("operators.busy_s", secs(busy))
      add("operators.exec_run_s", tasks.map(_.runS).sum)
      add("operators.exec_cpu_s", tasks.map(_.cpuS).sum)
      add("operators.gc_s", tasks.map(_.gcS).sum)
      add("shuffle.write_mb", tasks.map(_.shuffleWriteB).sum / 1e6)
      add("shuffle.read_mb", tasks.map(_.shuffleReadB).sum / 1e6)
      add("shuffle.spill_mb", tasks.map(_.spillB).sum / 1e6)
      add("shuffle.fetch_wait_s", tasks.map(_.fetchWaitS).sum)
      add("scan.input_mb", tasks.map(_.inputB).sum / 1e6)
      add("streaming.batches", batches.size)
      if (acc.isDefined) batchDurations ++= batches.map(_.durS)
      add("unattributed_s", secs((hi - lo) - coveredWall))
    }
  }

  private val batchDurations = mutable.ArrayBuffer[Double]()

  /** One pass over the workload's queries in `order`. */
  private def pass(kind: String, idx: Int, s: SparkSession, order: Seq[String],
      digest: Boolean, traced: Boolean): Pass = {
    recorder.foreach(_.enabled = traced)
    val acc = mutable.Map[String, Double]()
    batchDurations.clear()
    val times = mutable.LinkedHashMap[String, Double]()
    var excluded = 0L
    var before = if (traced) tmpFiles() else Map.empty[String, (Long, Long)]
    val p0 = now()
    val pSpan = if (traced) tracer.open(runSpan, s"pass $kind$idx", p0) else -1
    resolveTables(s)
    val r1 = now()
    if (wl.stocks) Tables.stocks(s, data).count()
    val r2 = now()
    val steps = Seq(("Tables.resolve", p0, r1), ("Tables.stocks_build", r1, r2))
    if (traced) {
      // the table steps are a layer of their own: their spans, but none
      // of their figures in the query-layer sums
      traceSegments(s, pSpan, steps, None)
      steps.foreach { case (n, a, b) => acc(s"${n}_s") = secs(b - a) }
    }
    order.foreach { q =>
      attempted += 1
      val b0 = now()
      var b1 = b0
      val df =
        try {
          val d = registry(q)(s, data)
          b1 = now()
          d.write.format("noop").mode("overwrite").save()
          Some(d)
        } catch {
          case e: Throwable =>
            failed += 1
            System.err.println(s"[perfbench] $q failed on $kind pass $idx: $e")
            None
        }
      val e1 = now()
      if (b1 == b0) b1 = e1
      times(q) = secs(e1 - b0)
      if (kind == "first") log(f"first pass: $q ${times(q)}%.4f s")
      val x0 = now()
      if (traced) {
        val qSpan = tracer.add(pSpan, s"query $q", b0, e1)
        traceSegments(s, qSpan, Seq(("build", b0, b1), ("exec", b1, e1)), Some(acc))
        val after = tmpFiles()
        acc("Sink.files_written") = acc.getOrElse("Sink.files_written", 0.0) +
          after.count { case (p, v) => !before.get(p).contains(v) }
        before = after
      }
      if (digest) df.foreach(checkDigest(q, s"$kind$idx", _))
      val x1 = now()
      if (traced) tracer.add(pSpan, "bench.bookkeeping", x0, x1)
      excluded += x1 - x0
    }
    val wallNs = now() - p0 - excluded
    if (traced) {
      tracer.close(pSpan, now())
      acc("Sink.stored_mb") = before.values.map(_._1).sum / 1e6
      acc("streaming.batch_p50_s") =
        if (batchDurations.isEmpty) 0.0 else Stats.median(batchDurations.toSeq)
      val accounted = Seq("Tables.resolve_s", "Tables.stocks_build_s", "query.build_s",
        "query.exec_s").map(acc.getOrElse(_, 0.0)).sum
      acc("unattributed_s") = acc.getOrElse("unattributed_s", 0.0) + (secs(wallNs) - accounted)
    }
    val wall = secs(wallNs)
    log(f"pass $kind$idx wall $wall%.4f s" + (if (traced) " (traced)" else ""))
    if (traced) log("pass " + kind + idx + " accounting: " + Layers.wallParts.map { k =>
      f"$k ${acc.getOrElse(k, 0.0)}%.4f" }.mkString(" + ") + f" = ${Layers.wallParts.map(acc.getOrElse(_, 0.0)).sum}%.4f s")
    Pass(wall, times.toMap, acc.toMap, traced)
  }

  private var runSpan = -1

  def run(): Int = {
    if (o.trace) runSpan = tracer.open(-1, s"workload ${wl.name}", now() -
      (System.currentTimeMillis() - Run.jvmStartMs) * 1000000L)
    val (spark, jvmSetup, setups) = setup()
    recorder.foreach { r =>
      spark.sparkContext.addSparkListener(r.sparkListener)
      watchSession(spark)
    }
    def order(): Seq[String] = rnd.shuffle(wl.queries)

    val first = pass("first", 0, spark, order(), digest = false, traced = o.trace)

    // cache-cold passes: digests on the first one
    var session = spark
    val cold = (1 to wl.cold).map { i =>
      SessionCaches.evictSession(session)
      session = watchSession(spark.newSession())
      pass("cold", i, session, order(), digest = i == 1, traced = o.trace)
    }

    // warm passes in the last cold session: digests on the last one; a
    // traced run alternates traced and untraced passes to measure the
    // tracing overhead
    val warm = (1 to wl.warm).map { i =>
      pass("warm", i, session, order(), digest = i == wl.warm, traced = o.trace && i % 2 == 1)
    }

    // what the session still holds once unreferenced blocks are cleaned
    // (the context cleaner acts on collected references)
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(300) }
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    val stored = tmpFiles().values.map(_._1).sum
    val warmQ = warm.flatMap(_.queryS.values)
    val (tailQ, tailV) = Stats.tail(warmQ)
    log(f"warm query samples ${warmQ.size}, tail percentile p${tailQ * 100}%.0f")

    def qMedian(ps: Seq[Pass], q: String) = Stats.median(ps.map(_.queryS.getOrElse(q, 0.0)))
    wl.queries.foreach { q =>
      log(f"query $q%-28s first ${first.queryS.getOrElse(q, 0.0)}%8.4f s  cold ${qMedian(cold, q)}%8.4f s  warm ${qMedian(warm, q)}%8.4f s")
    }
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!o.trace) {
      metrics("setup_s") = (Stats.median(setups), "s")
      metrics("first_pass_s") = (first.wall, "s")
      metrics("cold_pass_s") = (Stats.median(cold.map(_.wall)), "s")
      metrics("warm_pass_s") = (Stats.median(warm.map(_.wall)), "s")
      metrics("cache_mb") = (cacheMb, "MB")
    } else {
      val byKind = Seq("first" -> Seq(first), "cold" -> cold,
        "warm" -> warm.filter(_.traced))
      byKind.foreach { case (kind, ps) =>
        Layers.keys.foreach { case (k, unit) =>
          metrics(s"$kind.$k") = (Stats.median(ps.map(_.layers.getOrElse(k, 0.0))), unit)
        }
      }
      metrics("SessionCaches.cold_over_warm") = (Stats.median(wl.queries.map { q =>
        qMedian(cold, q) / math.max(qMedian(warm, q), 1e-9)
      }), "ratio")
      val untracedWarm = warm.filterNot(_.traced).map(_.wall)
      metrics("trace.overhead_frac") = (
        if (untracedWarm.isEmpty) 0.0
        else Stats.median(warm.filter(_.traced).map(_.wall)) / Stats.median(untracedWarm) - 1,
        "ratio")
      metrics("setup.jvm_s") = (jvmSetup, "s")
      metrics("stored_bytes_per_input_byte") = (stored.toDouble / inputBytes(), "ratio")
      metrics("query.p50_s") = (Stats.median(warmQ), "s")
      metrics("query.tail_s") = (tailV, "s")
      metrics("query.samples") = (warmQ.size.toDouble, "count")
      metrics("query.tail_quantile") = (tailQ, "ratio")
      metrics("failed_frac") = (failed.toDouble / math.max(attempted, 1), "ratio")
    }
    metrics.foreach { case (k, (v, u)) => log(s"metric $k = ${Json.num(v)} $u") }
    log(s"attempted $attempted, failed $failed, failed_frac ${Json.num(failed.toDouble / attempted)}")

    if (o.trace) {
      tracer.close(runSpan, now())
      val path = Paths.get(o.out, s"spans-${wl.name}-seed${o.seed}.jsonl")
      tracer.write(path)
      log(s"spans written to $path")
    }
    Session.stop(spark)

    val correct = failed == 0
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
    if (correct) 0 else 1
  }

}

object Run {
  def jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Set-ups after the first, in the same JVM; `setup_s` is their median. */
  val resetups = 5
}
