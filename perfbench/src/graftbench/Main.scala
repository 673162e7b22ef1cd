package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's entry point: one workload, one closed-loop client, one JVM.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --run-dir <dir> --bench-dir <dir>
  *
  * Sets up `SetUps` times (a fresh session, warehouse and inputs each
  * time; `setup_s` is the median), then runs the workload's measured
  * pass and further ops until `--seconds` have passed, checks every
  * output, and prints one JSON object as the last line of stdout. The
  * gated figures cover the pass only. */
object Main {
  val SetUps = 3

  def arg(args: Array[String], key: String): Option[String] = {
    val i = args.indexOf(s"--$key")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(runDir: File, cores: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", shufflePartitions = cores)
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(runDir, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(s)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Set up each workload once (a light set-up) and run one op: loads
    * the classes the runs use, so a class-data-sharing archive dumped at
    * exit covers them. */
  def train(args: Array[String]): Unit = {
    val runRoot = new File(arg(args, "run-dir").get)
    Workloads.names.foreach { name =>
      val dir = new File(runRoot, name)
      val spark = session(dir, math.min(4, Runtime.getRuntime.availableProcessors()))
      val w = Workloads(name)
      val ctx = new Ctx(spark, dir, 0L, new File(arg(args, "bench-dir").get))
      try { w.setup(ctx, first = false); w.prepare(ctx); w.op(ctx) }
      finally { w.close(); spark.stop() }
    }
    deleteTree(runRoot)
  }

  /** Driver heap that survives forced collections: the least seen over a
    * few, since the context cleaner frees more after each one. */
  def retainedHeapMb(): Double = (0 until 4).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def main(args: Array[String]): Unit = {
    arg(args, "mode").getOrElse("run") match {
      case "selftest" => sys.exit(SelfTest.run(new File(arg(args, "bench-dir").get)))
      case "derive" => Derive.run(args); sys.exit(0)
      case "train" => train(args); sys.exit(0)
      case _ => ()
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val name = arg(args, "workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "trace").contains("1")
    val runRoot = new File(arg(args, "run-dir").getOrElse(sys.error("--run-dir is required")))
    val benchDir = new File(arg(args, "bench-dir").getOrElse("perfbench"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val w = Workloads(name)
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    for (i <- 0 until SetUps) {
      if (spark != null) {
        w.close()
        spark.stop()
        deleteTree(ctx.runDir)
      }
      // the first set-up also pays for JVM start-up
      val t0 = if (i == 0) jvmStart else System.currentTimeMillis().toDouble
      val dir = new File(runRoot, s"setup$i")
      val t1 = System.currentTimeMillis()
      spark = session(dir, cores)
      // listeners go in before the set-up: a stream clones the session's
      // query-execution listeners when it starts
      if (trace) Trace.install(spark)
      ctx = new Ctx(spark, dir, seed, benchDir)
      val t2 = System.currentTimeMillis()
      w.setup(ctx, first = i == 0)
      val t3 = System.currentTimeMillis()
      setups += (t3 - t0) / 1000.0
      System.err.println(f"[perfbench] set-up $i: ${(t1 - t0) / 1000.0}%.2f s before the session, " +
        f"${(t2 - t1) / 1000.0}%.2f s session, ${(t3 - t2) / 1000.0}%.2f s inputs and warm-up")
    }

    Trace.reset()
    Trace.enabled = trace
    if (trace) w.probe(ctx)

    val opTimes = mutable.ArrayBuffer.empty[Double]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    var heapMb = Double.NaN
    val roots = mutable.ArrayBuffer.empty[(Int, Double, Double)]
    val blocks = mutable.ArrayBuffer.empty[(Long, Long)]
    val written = mutable.ArrayBuffer.empty[(Long, Long)]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var inputBytes = 0L
    val hardStop = System.nanoTime() + ((seconds * 4 + 60) * 1e9).toLong
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while ((attempted < w.passOps || elapsed < seconds) && System.nanoTime() < hardStop) {
      val inPass = attempted < w.passOps
      w.prepare(ctx)
      attempted += 1
      if (inPass) inputBytes += w.inputBytes(ctx)
      val before = if (inPass) Workloads.files(ctx.warehouse) else Map.empty[String, Long]
      val a = Trace.nowMs
      val t0 = System.nanoTime()
      val outcome = try Right(Trace.span(s"op.${w.name}")(w.op(ctx))) catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val b = Trace.nowMs
      if (inPass) {
        val fresh = Workloads.files(ctx.warehouse).filterNot { case (p, _) => before.contains(p) }
        written += ((fresh.values.sum, fresh.size.toLong))
      }
      if (trace && inPass) {
        roots += ((Trace.allSpans.lastIndexWhere(_.name == s"op.${w.name}"), a, b))
        val sc = spark.sparkContext
        blocks += ((sc.getPersistentRDDs.size.toLong,
          sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum))
      }
      val errs = outcome match {
        case Left(err) => Seq(err)
        case Right(o) =>
          opTimes += dt
          if (inPass) passTimes += dt
          try o.check() catch { case e: Throwable => Seq(s"check: ${e.getMessage}") }
      }
      if (errs.nonEmpty) { failed += 1; failures ++= errs }
      if (attempted == w.passOps) {
        Trace.enabled = false
        heapMb = retainedHeapMb()
      }
    }
    val elapsedS = elapsed
    if (attempted < w.passOps) {
      failed += 1
      failures += s"the pass ran $attempted of ${w.passOps} ops before the time limit"
    }
    Trace.enabled = false
    if (trace) Trace.drain()
    val filesLive = Workloads.files(ctx.warehouse).size.toDouble

    // the whole-run output check counts as one more attempted op
    attempted += 1
    val finalErrs = try w.finalCheck(ctx) catch { case e: Throwable => Seq(s"final check: $e") }
    if (finalErrs.nonEmpty) { failed += 1; failures ++= finalErrs }
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val p50 = Workloads.p50(passTimes.toSeq)
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      out("setup_s") = (Workloads.p50(setups.toSeq), "s")
      out("pass_s") = (passTimes.sum, "s")
      out("retained_heap_mb") = (heapMb, "MB")
      val detail = out.toSeq.map { case (k, (v, u)) => (k, v, u) } ++ Seq(
        ("op_p50_s", p50, "s"), ("wall_s", elapsedS, "s"),
        ("error_rate", failed.toDouble / attempted, "ratio"),
        ("ops", opTimes.size.toDouble, "count")) ++
        w.details(opTimes.toSeq) ++
        (if (inputBytes > 0) Seq(("write_amp", written.map(_._1).sum.toDouble / inputBytes, "x")) else Nil)
      println(s"[perfbench] $name " + detail.map { case (k, v, u) => s"$k=${fmt(v)} $u" }.mkString(", "))
      println(s"[perfbench] $name setups_s=" + setups.map(fmt).mkString(",") +
        " ops_s=" + opTimes.map(t => f"$t%.3f").mkString(","))
    } else {
      Layers.summarise(roots.toSeq, blocks.toSeq, written.toSeq, filesLive, p50, passTimes.sum)
        .foreach { case (k, v, u) => out(k) = (v, u) }
      val self = Trace.selfTimes(roots.map(_._1).toSet)
      println(s"[perfbench] $name self_s " + self.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"$k=${fmt(v / math.max(1, roots.size))}" }.mkString(", "))
    }
    w.close()
    spark.stop()
    deleteTree(runRoot)

    val metrics = out.map { case (k, (v, u)) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
