package perfbench

import graft.Q
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** One benchmark process: one workload, one client, one session.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --fixture <dir> --work <dir> --out <file> --cpus <n>
  * }}}
  *
  * Its set-up time runs from process start until the session is ready
  * with the fixture registered. It then runs one cold pass in list order
  * and warm passes in seed-shuffled orders until `--seconds` have passed,
  * writing every query to a no-op sink. An untimed verification pass writes each query's result under
  * `<work>/verify` for the caller to check.
  *
  * With `--trace 1` the tracer is attached for the cold pass and for every
  * other warm pass, so the same process also gives untraced warm passes to
  * measure the tracer's overhead against; it finally runs a query that
  * launches jobs from threads of its own. The run record goes to `--out`.
  */
object Main {
  /** One query execution, as the client thread saw it (nanoTime). */
  final case class Run(q: Q, pass: Int, traced: Boolean, tag: String, t0: Long,
      tBuilt: Long, t1: Long, error: Option[String], pinsAdded: Int)

  def queries(workload: String): Seq[Q] = workload match {
    case "relational_sf0.1" => Workloads.relational
    case "mixed_10x" => Workloads.tenX
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A session configured as the library's own mains configure theirs
    * (but for their once-a-minute forced GC, which would land inside a
    * timed pass), with the fixture's tables registered as views.
    */
  def setUp(cpus: Int, work: String, fixture: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules", graft.GraftSession.ExcludedRules)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.names.foreach(t =>
      spark.read.parquet(s"$fixture/$t.parquet").createOrReplaceTempView(t))
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val fixture = opt("fixture")
    val work = opt("work")
    val cpus = opt("cpus").toInt
    val qs = queries(workload) // loads the registry: module initialisation is set-up

    val spark = setUp(cpus, work, fixture)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val sc = spark.sparkContext

    val tracer = new Tracer
    var attached = false
    def traced(on: Boolean): Unit = if (on != attached) {
      if (on) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      } else {
        tracer.awaitQuiet()
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      attached = on
    }

    var seq = 0L
    def runOne(q: Q, pass: Int): Run = {
      seq += 1
      val tag = s"pb:$seq:${q.name}"
      val pinsBefore = if (attached) sc.getPersistentRDDs.keySet else Set.empty[Int]
      sc.setJobGroup(tag, q.name, false)
      val t0 = System.nanoTime()
      var tBuilt = 0L
      val err = try {
        val df = q.fn(spark, fixture)
        tBuilt = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val t1 = System.nanoTime()
      sc.clearJobGroup()
      val pins = if (attached) (sc.getPersistentRDDs.keySet -- pinsBefore).size else 0
      Run(q, pass, attached, tag, t0, if (tBuilt == 0L) t1 else tBuilt, t1, err, pins)
    }

    // The cold pass runs in list order, so every seed's cold pass has the
    // same query pay first-use JIT and build the memo substrates; each
    // warm pass runs in its own seed-shuffled order.
    val rng = new scala.util.Random(opt("seed").toLong)
    def pass(p: Int): (Double, Seq[Run]) = {
      val order = if (p == 0) qs else rng.shuffle(qs)
      val t0 = System.nanoTime()
      val runs = order.map(runOne(_, p))
      ((System.nanoTime() - t0) / 1e9, runs)
    }

    val nano0 = System.nanoTime()
    val epochMs0 = System.currentTimeMillis()
    traced(trace)
    val (coldS, coldRuns) = pass(0)
    val warmStart = System.nanoTime()
    val warm = Vector.newBuilder[(Double, Seq[Run])]
    var p = 1
    while ((System.nanoTime() - warmStart) / 1e9 < seconds) {
      traced(trace && p % 2 == 1)
      warm += pass(p)
      p += 1
    }
    traced(false)
    val warmPasses = warm.result()

    // Untimed verification: every query's result, written for the caller.
    val verifyS = qs.map { q =>
      val t0 = System.nanoTime()
      try q.fn(spark, fixture).write.mode("overwrite").parquet(s"$work/verify/${q.name}")
      catch { case _: Throwable => () } // the caller finds no result and counts it failed
      q.name -> (System.nanoTime() - t0) / 1e9
    }.toMap

    val probe = if (trace) {
      traced(true)
      val r = runOne(Workloads.threadProbe, -1)
      traced(false)
      Seq(r)
    } else Nil

    val pinnedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val runs = coldRuns ++ warmPasses.flatMap(_._2) ++ probe
    val traceOut = if (trace) Some(Attribution(tracer, runs.filter(_.traced),
      t => epochMs0 + (t - nano0) / 1e6)) else None

    val record = Map(
      "workload" -> workload, "cpus" -> cpus,
      "setup_s" -> setupS, "cold_pass_s" -> coldS,
      "warm_pass_s" -> warmPasses.map(_._1), "verify_s" -> verifyS,
      "storage_pinned_mb" -> pinnedMb,
      "queries" -> qs.map(q => Map("name" -> q.name, "oracle" -> q.oracle)),
      "runs" -> runs.map(r => Map(
        "name" -> r.q.name, "pass" -> r.pass, "traced" -> r.traced,
        "wall_s" -> (r.t1 - r.t0) / 1e9, "error" -> r.error)),
      "trace" -> traceOut)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(record))
    spark.stop()
  }
}
