package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.PerfbenchBus

import graft.{Caches, Q, Registry}

/** The graft benchmark's JVM side. `perfbench/run.py` builds it and calls
  * one of three modes:
  *
  *   - `run`: one workload, one seed, timed for a number of seconds; the
  *     last stdout line is the result JSON.
  *   - `golden`: dumps the listed ids' results the way `graft.Verify` does,
  *     for the DuckDB check, together with their digests.
  *   - `survey`: one pass over every declared id, `count()` against full
  *     materialization; no check runs it.
  */
object Main {

  /** A run times at least this many passes, whatever `--seconds` says. */
  val MinPasses = 3
  /** Untimed passes in set-up: after one, the first timed pass still ran
    * 10-20 % slower than the rest (JIT compilation still going).
    */
  val WarmupPasses = 2

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val o = Opts(args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    mode match {
      case "run"    => runWorkload(o)
      case "golden" => golden(o)
      case "survey" => survey(o)
      case _ =>
        System.err.println("usage: Main run|golden|survey --bench-dir D --work-dir W ...")
        sys.exit(2)
    }
  }

  // ---------------------------------------------------------------- inputs

  /** Ids of a list file: one per line; `#` starts a comment. */
  def readIds(path: Path): Seq[String] =
    Files.readAllLines(path, UTF_8).asScala.toSeq
      .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty)

  /** `id <TAB> rows <TAB> digest` per line. */
  def readGoldens(path: Path): Map[String, (Long, String)] =
    Files.readAllLines(path, UTF_8).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val Array(id, rows, digest) = l.split("\t")
      id -> (rows.toLong, digest)
    }.toMap

  def query(id: String): Q = Registry.byName.getOrElse(id,
    throw new IllegalArgumentException(s"unknown query id $id"))

  // --------------------------------------------------------------- probes

  private def cpus: Int = Runtime.getRuntime.availableProcessors()

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def procStatusMb(field: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "n/a" }

  /** (steal, total) jiffies of all cpus, from /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
        .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  // ------------------------------------------------------------------ run

  /** One timed pass over the workload's ids. */
  final case class Pass(traced: Boolean, wallS: Double, cpuS: Double, gcMs: Long,
      runs: Seq[QueryRun], released: Seq[Released], counts: Option[LayerListener])

  /** The committed input tables. */
  def dataDir(benchDir: Path): String = benchDir.resolve("data").toString

  def runWorkload(o: Opts): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val benchDir = Paths.get(o("bench-dir"))
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val loadBefore = loadavg()
    val jiffies0 = cpuJiffies()
    val qs = readIds(benchDir.resolve(s"workloads/$workload.ids")).map(query)
    val goldens = readGoldens(benchDir.resolve("goldens.tsv"))
    val data = dataDir(benchDir)

    val spark = Harness.session(cpus, o("work-dir"), keepStores = true)
    val sc = spark.sparkContext
    val tracer = new Tracer(false)
    val h = new Harness(spark, data, tracer, goldens)

    // One pass: each query runs alone, and its cached intermediates are
    // released after it, outside its latency but inside the pass.
    def pass(order: Seq[Q], withPlan: Boolean): (Seq[QueryRun], Seq[Released]) =
      order.map(qq => (h.run(qq, withPlan), h.release())).unzip

    // Set-up, from process start to the first timed query: session, tables
    // loaded and cached, untimed passes (JIT, codegen, parquet footers, and
    // every store the ids build). A traced run records it too, for the
    // tables and store metrics.
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val setupListener = if (traced) Some(new LayerListener) else None
    setupListener.foreach(sc.addSparkListener)
    tracer.enabled = traced
    val loadS = h.loadTables()
    val cachedMb = h.cachedMb()
    val warm = (1 to WarmupPasses).flatMap(_ => pass(qs, withPlan = false)._1)
    tracer.enabled = false
    setupListener.foreach { l => PerfbenchBus.drain(sc); sc.removeSparkListener(l) }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val setupSpans = tracer.take()

    // Timed passes, each in its own seeded order. A traced run alternates
    // untraced and traced passes so the tracing overhead is measured in
    // the same window as the per-layer numbers.
    val passes = ArrayBuffer[Pass]()
    val passSpans = ArrayBuffer[Span]()
    val tMeasure = System.nanoTime()
    while (passes.size < MinPasses || (System.nanoTime() - tMeasure) / 1e9 < seconds) {
      val tracedPass = traced && passes.size % 2 == 1
      val order = new Random(seed * 1000003L + passes.size).shuffle(qs)
      val listener = if (tracedPass) Some(new LayerListener) else None
      listener.foreach(sc.addSparkListener)
      tracer.enabled = tracedPass
      val gc0 = gcMs(); val cpu0 = cpuNs(); val t0 = System.nanoTime()
      val (runs, released) = pass(order, withPlan = tracedPass)
      val wall = (System.nanoTime() - t0) / 1e9
      val p = Pass(tracedPass, wall, (cpuNs() - cpu0) / 1e9, gcMs() - gc0, runs, released, listener)
      listener.foreach { l => PerfbenchBus.drain(sc); sc.removeSparkListener(l) }
      tracer.enabled = false
      passSpans ++= tracer.take()
      passes += p
    }
    val loadAfter = loadavg()
    val jiffies1 = cpuJiffies()
    val stealFrac = (jiffies1._1 - jiffies0._1).toDouble / math.max(1L, jiffies1._2 - jiffies0._2)

    val timed = passes.toSeq.flatMap(_.runs)
    val tally = Stats.tally(timed.map(r => r.id -> r.outcome))
    val warmTally = Stats.tally(warm.map(r => r.id -> r.outcome))

    val host = Seq(
      "workload" -> q(workload), "seed" -> seed.toString, "seconds" -> num(seconds),
      "trace" -> traced.toString, "nproc" -> cpus.toString,
      "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jvm_args" -> q(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-X")).mkString(" ")),
      "spark" -> q(spark.version), "jdk" -> q(System.getProperty("java.version")),
      "loadavg_before" -> q(loadBefore), "loadavg_after" -> q(loadAfter),
      "cpu_steal_frac" -> num(stealFrac),
      "commit" -> q(o.get("commit").getOrElse("unknown")), "ids" -> qs.size.toString)
    println("host " + host.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}"))

    // Latencies pool the untraced timed passes.
    val plain = passes.filterNot(_.traced).toSeq
    val lat = plain.flatMap(_.runs).map(_.latencyNs / 1e9)
    val tail = Stats.tail(lat)
    println(f"setup_s $setupS%.3f: session $sessionS%.3f s, tables $loadS%.3f s, " +
      f"$WarmupPasses warm-up passes ${setupS - sessionS - loadS}%.3f s")
    println(f"passes: ${plain.size} untraced, ${passes.size - plain.size} traced; " +
      s"pass_s ${plain.map(p => f"${p.wallS}%.3f").mkString(" ")}")
    println(f"latency_tail_s is p${tail.pct}%.1f over ${tail.n} samples, ${tail.beyond} beyond it")
    println(f"failed_frac ${tally.failedFrac}%.4f ratio (${tally.failed}/${tally.attempted}); " +
      s"failing ids: ${if (tally.failedIds.isEmpty) "none" else tally.failedIds.mkString(",")}")
    (timed ++ warm).collect { case QueryRun(id, _, _, _, m: Stats.Mismatched, _) => id -> m }
      .distinct.foreach { case (id, m) => println(s"  mismatch $id got ${m.got} want ${m.want}") }
    (timed ++ warm).collect { case QueryRun(id, _, _, _, t: Stats.Threw, _) => id -> t.message }
      .distinct.foreach { case (id, msg) => println(s"  threw $id: $msg") }
    plain.flatMap(_.runs).groupBy(_.id).toSeq
      .map { case (id, rs) => id -> Stats.median(rs.map(_.latencyNs / 1e9)) }
      .sortBy(-_._2)
      .foreach { case (id, s) => println(f"  latency $id%-32s ${s * 1000}%9.1f ms (median)") }
    if (warmTally.failed > 0)
      println(s"warm-up failures: ${warmTally.failedIds.mkString(",")}")

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", Stats.median(plain.map(_.wallS)), "s"),
      ("latency_p50_s", Stats.median(lat), "s"),
      ("latency_tail_s", tail.value, "s"),
      ("cpu_s", Stats.median(plain.map(_.cpuS)), "s"),
      ("peak_rss_mb", procStatusMb("VmHWM"), "MB"))
    endToEnd.foreach { case (n, v, u) => println(f"$n%-16s ${num(v)} $u") }

    val metrics =
      if (!traced) endToEnd
      else perLayer(passes.toSeq, setupSpans, setupListener.get, passSpans.toSeq, loadS, cachedMb,
        Harness.storeRoot(o("work-dir")))
    if (traced) metrics.foreach { case (n, v, u) => println(f"$n%-24s ${num(v)} $u") }

    spark.stop()
    val correct = tally.failed == 0 && warmTally.failed == 0
    val body = metrics.map { case (n, v, u) => s"${q(n)}:{\"value\":${num(v)},\"unit\":${q(u)}}" }
    println(s"""{"correct":$correct,"attempted":${tally.attempted},"failed":${tally.failed},""" +
      s""""metrics":${body.mkString("{", ",", "}")}}""")
  }

  /** The traced run's per-layer metrics. Totals are per traced pass; the
    * jobs metrics are per query; the tables and store metrics come from
    * set-up and the end of the run.
    */
  def perLayer(passes: Seq[Pass], setupSpans: Seq[Span], setupCounts: LayerListener,
      spans: Seq[Span], loadS: Double, cachedMb: Double,
      storeRoot: String): Seq[(String, Double, String)] = {
    val tp = passes.filter(_.traced)
    val up = passes.filterNot(_.traced)
    val n = tp.size.toDouble
    val mb = 1048576.0
    def spanMs(name: String) = spans.filter(_.name == name).map(_.dur).sum / 1e6 / n
    def meanMs(name: String) = {
      val ss = spans.filter(_.name == name)
      if (ss.isEmpty) 0.0 else ss.map(_.dur).sum / 1e6 / ss.size
    }
    def phase(p: String) = {
      val cs = tp.flatMap(_.counts).map(_.phase(p))
      LayerListener.Counts(
        cs.map(_.jobs).sum, cs.map(_.stages).sum, cs.map(_.tasks).sum,
        cs.map(_.taskFailures).sum, cs.map(_.taskMs).sum, cs.map(_.taskCpuNs).sum,
        cs.map(_.gcMs).sum, cs.map(_.shuffleWrite).sum, cs.map(_.shuffleRead).sum,
        cs.map(_.spill).sum, cs.map(_.input).sum)
    }
    val build = phase("build")
    val exec = phase("exec")
    val plans = tp.flatMap(_.runs).flatMap(_.plan)
    val released = tp.flatMap(_.released)
    val execMs = spanMs("exec")
    val firstJobs = tp.flatMap(_.counts).flatMap(_.firstJobs).toMap
    val queue = tp.flatMap(_.runs).flatMap(r => firstJobs.get(r.seq).map(_ - r.startMs).map(_.toDouble))
    // store builds: set-up's Q.build time of the queries whose tasks wrote files
    val writers = setupCounts.outputs.filter(_._2 > 0).keySet
    val storeBuildS = setupSpans.filter(s => s.name == "build" && writers(s.qid)).map(_.dur).sum / 1e9
    val (storeFiles, storeBytes) = StoreRoot.usage(storeRoot)
    val self = Tracer.selfTimes(spans)
    val selfSetup = Tracer.selfTimes(setupSpans)
    println("self time per traced pass, by span:")
    self.toSeq.sortBy(-_._2).foreach { case (name, ns) =>
      println(f"  self $name%-16s ${ns / 1e6 / n}%10.1f ms")
    }
    // zero on every correct run at this data size, so printed, not metrics
    println(f"exec.task_failures ${exec.taskFailures / n}%.1f, exec.spill_mb " +
      f"${exec.spill / mb / n}%.3f per traced pass")
    println(f"tracing overhead: pass_s ${Stats.median(tp.map(_.wallS))}%.3f traced vs " +
      f"${Stats.median(up.map(_.wallS))}%.3f untraced; cpu_s ${Stats.median(tp.map(_.cpuS))}%.3f vs " +
      f"${Stats.median(up.map(_.cpuS))}%.3f; latency_p50_s " +
      f"${Stats.median(tp.flatMap(_.runs).map(_.latencyNs / 1e9))}%.3f vs " +
      f"${Stats.median(up.flatMap(_.runs).map(_.latencyNs / 1e9))}%.3f")
    val overhead = Stats.median(tp.map(_.wallS)) / Stats.median(up.map(_.wallS)) - 1.0
    Seq(
      ("tables.load_s", loadS, "s"),
      ("tables.cached_mb", cachedMb, "MB"),
      ("build.ms", spanMs("build"), "ms"),
      ("build.jobs", build.jobs / n, "count"),
      ("build.task_ms", build.taskMs / n, "ms"),
      ("plan.ms", spanMs("plan"), "ms"),
      ("plan.exchanges", plans.map(_.exchanges).sum / n, "count"),
      ("plan.codegen_stages", plans.map(_.codegenStages).sum / n, "count"),
      ("plan.broadcasts", plans.map(_.broadcasts).sum / n, "count"),
      ("plan.rdd_scans", plans.map(_.rddScans).sum / n, "count"),
      ("exec.ms", execMs, "ms"),
      ("exec.jobs", exec.jobs / n, "count"),
      ("exec.ms_per_job", if (exec.jobs == 0) 0.0 else execMs * n / exec.jobs, "ms"),
      ("exec.core_idle_frac", 1.0 - exec.taskMs / n / (execMs * cpus), "ratio"),
      ("exec.stages", exec.stages / n, "count"),
      ("exec.tasks", exec.tasks / n, "count"),
      ("exec.task_ms", exec.taskMs / n, "ms"),
      ("exec.task_cpu_ms", exec.taskCpuNs / 1e6 / n, "ms"),
      ("exec.gc_ms", exec.gcMs / n, "ms"),
      ("exec.shuffle_write_mb", exec.shuffleWrite / mb / n, "MB"),
      ("exec.shuffle_read_mb", exec.shuffleRead / mb / n, "MB"),
      ("exec.input_mb", exec.input / mb / n, "MB"),
      ("caches.release_ms", spanMs("caches.release"), "ms"),
      ("caches.persisted_rdds", released.map(_.rdds).sum / n, "count"),
      ("caches.mem_mb", released.map(_.bytes).sum / mb / n, "MB"),
      ("jobs.start_ms", meanMs("jobs.start"), "ms"),
      ("jobs.poll_us", meanMs("jobs.state") * 1000.0, "us"),
      ("jobs.queue_ms", if (queue.isEmpty) 0.0 else queue.sum / queue.size, "ms"),
      ("jobs.close_ms", meanMs("jobs.close"), "ms"),
      ("store.build_s", storeBuildS, "s"),
      ("store.disk_mb", storeBytes / mb, "MB"),
      ("store.files", storeFiles.toDouble, "count"),
      ("jvm.gc_ms", tp.map(_.gcMs).sum / n, "ms"),
      ("jvm.heap_peak_mb", heapPeakMb(), "MB"),
      ("self.tables_ms", selfSetup.getOrElse("tables.load", 0L) / 1e6, "ms"),
      ("self.query_ms", self.getOrElse("query", 0L) / 1e6 / n, "ms"),
      ("self.jobs_ms", Seq("jobs.start", "jobs.state", "jobs.await", "jobs.close", "jobs.run")
        .map(self.getOrElse(_, 0L)).sum / 1e6 / n, "ms"),
      ("trace.overhead_frac", overhead, "ratio"))
  }

  // --------------------------------------------------------------- golden

  /** Writes each id's result the way `graft.Verify` does (one parquet file
    * per id plus `oracle_sql.json`) and `digests.tsv`, the digest of the
    * rows read back from that file. An id whose fresh `collect()` digests
    * differently from its dump is reported as unstable and left out.
    */
  def golden(o: Opts): Unit = {
    val benchDir = Paths.get(o("bench-dir"))
    val out = Paths.get(o("out"))
    val data = dataDir(benchDir)
    val ids = o("ids") match {
      case "ALL" => Registry.all.filter(_.oracle.isDefined).map(_.name)
      case list  => list.split(",").toSeq.filter(_.nonEmpty)
    }
    val spark = Harness.session(cpus, o("work-dir"), keepStores = false)
    Files.createDirectories(out)
    new Harness(spark, data, new Tracer(false), Map.empty).loadTables()
    val lines = ArrayBuffer[String]()
    ids.map(query).foreach { qq =>
      try {
        qq.build(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/${qq.name}")
        Caches.releaseAll()
        val (rows, dump) = Digest.of(spark.read.parquet(s"$out/${qq.name}").collect())
        val (_, fresh) = Digest.of(qq.build(spark, data).collect())
        Caches.releaseAll()
        if (fresh == dump) lines += s"${qq.name}\t$rows\t$dump"
        else println(s"unstable ${qq.name}: dump $dump, collect $fresh")
      } catch { case e: Throwable =>
        Caches.releaseAll()
        println(s"failed ${qq.name}: ${e.getMessage}")
      }
    }
    val oracles = ids.flatMap(id => Registry.oracles.get(id).map(id -> _))
    Files.write(out.resolve("oracle_sql.json"),
      oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}").getBytes(UTF_8))
    Files.write(out.resolve("digests.tsv"), lines.map(_ + "\n").mkString.getBytes(UTF_8))
    println(s"digested ${lines.size} of ${ids.size} ids")
    spark.stop()
  }

  // --------------------------------------------------------------- survey

  /** One pass over every declared id: `count()` seconds against full
    * materialization, with the build/plan/exec split and job counts,
    * ranked by the gap between the two timings. Store ids write their
    * workspaces under /tmp, so this mode is not part of any workload.
    */
  def survey(o: Opts): Unit = {
    val benchDir = Paths.get(o("bench-dir"))
    val data = o.get("data").getOrElse(dataDir(benchDir))
    val spark = Harness.session(cpus, o("work-dir"), keepStores = false)
    val sc = spark.sparkContext
    val tracer = new Tracer(true)
    val h = new Harness(spark, data, tracer, readGoldens(benchDir.resolve("goldens.tsv")))
    h.loadTables()
    tracer.take()
    val only = o.get("ids").map(_.split(",").toSet)
    val qs = Registry.all.filter(qq => only.forall(_.contains(qq.name)))
    val rows = qs.map { qq =>
      val countS = try {
        val t0 = System.nanoTime()
        qq.build(spark, data).count()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => Double.NaN }
      finally Caches.releaseAll()
      val l = new LayerListener
      sc.addSparkListener(l)
      val r = h.run(qq, withPlan = false)
      h.release()
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(l)
      val ss = tracer.take()
      def ms(n: String) = ss.filter(_.name == n).map(_.dur).sum / 1e6
      val ok = r.outcome match {
        case Stats.Matched => "ok"
        case _: Stats.Mismatched => "mismatch"
        case _: Stats.Threw => "threw"
      }
      val jobs = Seq("build", "plan", "exec").map(l.phase(_).jobs)
      (qq.name, countS, r.latencyNs / 1e9, ms("build"), ms("plan"), ms("exec"), jobs, ok)
    }
    println("id\tcount_s\tfull_s\tgap_s\tbuild_ms\tplan_ms\texec_ms\tbuild_jobs\tplan_jobs\texec_jobs\tstatus")
    rows.sortBy { case (_, c, f, _, _, _, _, _) => -(f - c) }.foreach {
      case (id, c, f, b, p, e, jobs, ok) =>
        println(f"$id\t$c%.3f\t$f%.3f\t${f - c}%.3f\t$b%.1f\t$p%.1f\t$e%.1f\t${jobs.mkString("\t")}\t$ok")
    }
    println(f"total count_s ${rows.map(_._2).filterNot(_.isNaN).sum}%.2f full_s ${rows.map(_._3).sum}%.2f")
    spark.stop()
  }
}
