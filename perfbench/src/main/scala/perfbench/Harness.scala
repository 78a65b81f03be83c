package perfbench

import java.util.concurrent.Executors
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.{Caches, Q, Tables}
import graft.jobs.Jobs

/** Plan shape of the Dataset a query executed, read after execution so the
  * adaptive plan is final.
  */
final case class PlanStats(exchanges: Int, codegenStages: Int, broadcasts: Int, rddScans: Int)

/** What one `Caches.releaseAll` found still cached besides the tables. */
final case class Released(rdds: Int, bytes: Long)

/** What a query's job hands back: the Dataset it ran, its digest and when
  * the last row was digested.
  */
private final case class Result(df: DataFrame, digest: (Long, String), endNs: Long)

/** One query's trip through the job API. `latencyNs` runs from
  * `Jobs.start` until the last row is digested.
  */
final case class QueryRun(id: String, latencyNs: Long, startMs: Long, seq: String,
    outcome: Stats.Outcome, plan: Option[PlanStats])

/** The benchmark's calls into the engine, each wrapped in a span. Only the
  * engine's public surface is used: `Registry` queries, `Tables`,
  * `Caches.releaseAll` and `jobs.Jobs`.
  */
final class Harness(spark: SparkSession, dataDir: String, trace: Tracer,
    goldens: Map[String, (Long, String)]) {
  import LayerListener.{PhaseKey, SeqKey}

  private val sc = spark.sparkContext
  private val seqNo = new java.util.concurrent.atomic.AtomicLong()
  // what the cached tables hold, so a query's own pinned blocks can be told apart
  private var tableRdds = 0
  private var tableBytes = 0L

  /** Loads and caches every table, one thread per core; returns the
    * seconds it took.
    */
  def loadTables(): Double = {
    val t0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(sc.defaultParallelism)
    try Tables.names
      .map(n => pool.submit(() => trace("tables.load")(Tables(spark, dataDir, n).cache().count())))
      .foreach(_.get())
    finally pool.shutdown()
    tableRdds = sc.getPersistentRDDs.size
    tableBytes = memBytes()
    (System.nanoTime() - t0) / 1e9
  }

  private def memBytes(): Long = sc.getRDDStorageInfo.map(_.memSize).sum

  /** Megabytes of cached blocks held in memory. */
  def cachedMb(): Double = memBytes() / 1048576.0

  /** Runs `q` through the job lifecycle: start, poll until done, await,
    * close. The job builds the query, forces its physical plan, collects
    * every row and digests them in order. Its cached intermediates stay
    * until the caller's next [[release]].
    */
  def run(q: Q, withPlan: Boolean): QueryRun = {
    val seq = s"${q.name}#${seqNo.incrementAndGet()}"
    trace.within(0L, seq) {
      trace("query") {
        val (parent, _) = trace.current
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val handle = trace("jobs.start") {
          Jobs.start(spark, q.name)(trace.within(parent, seq)(trace("jobs.run")(body(q, seq))))
        }
        while (!handle.isCompleted) {
          trace("jobs.state")(handle.state)
          LockSupport.parkNanos(Harness.PollNs)
        }
        val result = try Right(trace("jobs.await")(handle.await()))
          catch { case e: Throwable => Left(e) }
        // a failed query's latency ends when the client sees the failure
        val latency = result.map(_.endNs).getOrElse(System.nanoTime()) - t0
        trace("jobs.close")(handle.close())
        val outcome = result match {
          case Left(e) => Stats.Threw(String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(""))
          case Right(r) => check(q.name, r.digest)
        }
        val plan = result.toOption.filter(_ => withPlan).map(r => planStats(r.df))
        QueryRun(q.name, latency, startMs, seq, outcome, plan)
      }
    }
  }

  /** Releases every cached intermediate (`Caches.releaseAll`); returns what
    * was still cached besides the tables just before. `Caches` is one
    * global registry, so this runs only while no query is in flight.
    */
  def release(): Released = {
    val held = Released(sc.getPersistentRDDs.size - tableRdds, math.max(0L, memBytes() - tableBytes))
    trace("caches.release")(Caches.releaseAll())
    held
  }

  private def body(q: Q, seq: String): Result = {
    sc.setLocalProperty(SeqKey, seq)
    try {
      sc.setLocalProperty(PhaseKey, "build")
      val df = trace("build")(q.build(spark, dataDir))
      sc.setLocalProperty(PhaseKey, "plan")
      trace("plan")(df.queryExecution.executedPlan)
      sc.setLocalProperty(PhaseKey, "exec")
      val rows: Array[Row] = trace("exec")(df.collect())
      val digest = trace("digest")(Digest.of(rows))
      Result(df, digest, System.nanoTime())
    } finally {
      sc.setLocalProperty(PhaseKey, null)
      sc.setLocalProperty(SeqKey, null)
    }
  }

  private def check(id: String, got: (Long, String)): Stats.Outcome = goldens.get(id) match {
    case Some(want) if want == got => Stats.Matched
    case Some(want) => Stats.Mismatched(s"${got._1}:${got._2}", s"${want._1}:${want._2}")
    case None => Stats.Mismatched(s"${got._1}:${got._2}", "no golden")
  }

  def planStats(df: DataFrame): PlanStats = {
    val qe = df.queryExecution
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec        => s +: nodes(s.plan)
      case o                        => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    val ns = nodes(qe.executedPlan)
    PlanStats(
      ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      ns.count(_.isInstanceOf[WholeStageCodegenExec]),
      ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      qe.optimizedPlan.collect { case r: LogicalRDD => r }.size)
  }
}

object Harness {

  /** How long the client sleeps between `JobHandle.state` polls. Latency
    * is stamped inside the job, so this only delays the next query.
    */
  val PollNs = 2000000L

  /** A local session with the confs the engine's Bench uses, keeping Spark's
    * scratch space and warehouse under `workDir`, and with `keepStores` the
    * engine's stores ([[StoreRoot]]) too.
    */
  def session(cpus: Int, workDir: String, keepStores: Boolean): SparkSession = {
    if (keepStores) java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeRoot(workDir)))
    val redirect = if (keepStores) StoreRoot.confs(storeRoot(workDir)) else Nil
    val spark = SparkSession.builder()
      .config(new org.apache.spark.SparkConf().setAll(redirect))
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (keepStores) {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[StoreRootFs], s"file: is served by ${fs.getClass.getName}")
    }
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  def storeRoot(workDir: String): String = s"$workDir/stores"
}
