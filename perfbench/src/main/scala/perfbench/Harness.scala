package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark: one closed-loop client running a workload's
  * queries one after another through `graft.SparkEntry.queries`, each
  * materialized through the `noop` sink.
  *
  *  1. Set-up, cold: start a session over the input tables in `--data` and
  *     run one untimed warm-up pass. `setup_s` is the JVM's uptime at its
  *     end, so it covers JVM start, session start, input reads and the
  *     cold pass's planning and code generation.
  *  2. Check pass, untimed: each query's rows are written as parquet under
  *     `<out>/results/<query>`, with `oracle_sql.json` beside them.
  *  3. Timed window: whole passes until `--seconds` have elapsed. With
  *     `--trace 1` passes alternate untraced / traced, and the traced ones
  *     record per-layer counters and spans ([[Tracer]]).
  *
  * Raw timings go to `<out>/harness.json` (and spans to `<out>/spans.jsonl`);
  * `perfbench/run.py` turns them into metrics and grades the outputs.
  */
object Harness {

  /** The one session configuration used for timing and for the check. */
  def sessionConf(cpus: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (10L * 1024 * 1024).toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  /** A query that always throws; the self-test uses it to check failure
    * accounting. */
  val ThrowingQuery = "perfbench_throws"

  private def query(name: String): (SparkSession, String) => DataFrame =
    if (name == ThrowingQuery) (_, _) => throw new IllegalStateException("deliberate failure")
    else graft.SparkEntry.queries(name)

  private def procLines(path: String): Seq[String] =
    scala.util.Try(Files.readAllLines(Paths.get(path)).toArray.toSeq.map(_.toString)).getOrElse(Nil)

  /** (steal, total) jiffies of the whole host. */
  private def cpuJiffies(): (Long, Long) =
    procLines("/proc/stat").find(_.startsWith("cpu ")).map { l =>
      val v = l.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    }.getOrElse((0L, 0L))

  private def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def peakRssMb(): Double =
    procLines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = a("queries").split(',').toSeq.filter(_.nonEmpty)
    val (dir, work, out) = (a("data"), a("work"), a("out"))
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val unknown = names.filterNot(n => n == ThrowingQuery || graft.SparkEntry.queries.contains(n))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val conf = sessionConf(cpus, work)
    val fns = names.map(n => n -> query(n))
    val failures = ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0

    // epoch milliseconds with nanoTime resolution, comparable to Spark's event times
    val (epoch0, nano0) = (System.currentTimeMillis().toDouble, System.nanoTime())
    def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    def newSession(): SparkSession = {
      val b = SparkSession.builder().appName("perfbench")
      conf.foreach { case (k, v) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    val results = s"$out/results"

    /** One pass; returns (wall seconds, per-query seconds, query spans).
      * Timed passes count attempts and failures; the `check` pass writes
      * every query's rows for grading and counts them too. */
    def pass(spark: SparkSession, dir: String, tag: String, timed: Boolean,
        check: Boolean = false): (Double, Seq[(String, Double)], Seq[QuerySpan]) = {
      val sc = spark.sparkContext
      val spans = ArrayBuffer.empty[QuerySpan]
      val times = ArrayBuffer.empty[(String, Double)]
      var wall = 0.0
      fns.zipWithIndex.foreach { case ((name, fn), i) =>
        val id = s"$tag-q$i"
        sc.setJobGroup(id, name)
        val t0 = nowMs()
        var t1 = Double.NaN
        try {
          val df = fn(spark, dir)
          t1 = nowMs()
          if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$results/$name")
          else df.write.format("noop").mode("overwrite").save()
        } catch {
          case e: Throwable => if (timed || check) failures += Map("query" -> name,
            "phase" -> (if (check) "check" else tag),
            "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
        } finally sc.clearJobGroup()
        val t2 = nowMs()
        if (t1.isNaN) t1 = t2
        if (timed || check) attempted += 1
        // a failed query keeps the time it took: failing must not read as fast
        times += name -> (t2 - t0) / 1e3
        wall += (t2 - t0) / 1e3
        spans += QuerySpan(id, name, t0, t1, t2)
        // outside the timed region: drop what the query cached, so it is
        // neither reused by nor charged to the next one
        spark.catalog.clearCache()
      }
      // collect the pass's garbage between passes, not inside the next one
      System.gc()
      (wall, times.toSeq, spans.toSeq)
    }

    // 1. cold set-up, 2. check pass
    val spark = newSession()
    val sessionUp = uptimeS()
    pass(spark, dir, "warm", timed = false)
    val setupS = uptimeS()
    val setupParts = Map("session_s" -> sessionUp, "warmup_s" -> (setupS - sessionUp))
    pass(spark, dir, "check", timed = false, check = true)

    // 3. timed window
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    val spanOut = ArrayBuffer.empty[Map[String, Any]]
    val (steal0, total0) = cpuJiffies()
    val windowStart = nowMs()
    var p = 0
    while (p == 0 || (nowMs() - windowStart) / 1e3 < seconds || (trace && p < 2)) {
      val traced = trace && p % 2 == 1
      val cg0 = tracer.map(_.codegen()).orNull
      tracer.filter(_ => traced).foreach { t =>
        t.reset()
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
      }
      val (wall, times, spans) = pass(spark, dir, s"p$p", timed = true)
      tracer.filter(_ => traced).foreach { t =>
        val (m, s) = t.passResult(spans, wall, cpus, cg0)
        spark.listenerManager.unregister(t)
        spark.sparkContext.removeSparkListener(t)
        layers += m
        spanOut ++= s.map(_ + ("pass" -> p))
      }
      passes += Map("pass" -> p, "traced" -> traced, "wall_s" -> wall,
        "queries" -> times.map { case (n, t) => Map("query" -> n, "s" -> t) })
      p += 1
    }
    val windowS = (nowMs() - windowStart) / 1e3
    val (steal1, total1) = cpuJiffies()

    val oracle = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.createDirectories(Paths.get(results))
    Files.write(Paths.get(s"$results/oracle_sql.json"), Json(oracle).getBytes(UTF_8))
    spark.stop()

    val result = Map(
      "queries" -> names, "cpus" -> cpus,
      "session_conf" -> conf.toMap,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup_s" -> setupS, "setup_parts" -> setupParts, "window_s" -> windowS, "passes" -> passes.toSeq,
      "layers" -> layers.toSeq, "attempted" -> attempted, "failures" -> failures.toSeq,
      "steal_frac" -> (if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0),
      "peak_rss_mb" -> peakRssMb())
    Files.write(Paths.get(s"$out/harness.json"), Json(result).getBytes(UTF_8))
    if (trace) Files.write(Paths.get(s"$out/spans.jsonl"),
      spanOut.map(s => Json(s) + "\n").mkString.getBytes(UTF_8))
  }
}
