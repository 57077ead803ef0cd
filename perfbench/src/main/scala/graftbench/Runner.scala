package graftbench

import java.lang.management.ManagementFactory
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: session start, set-up, an untimed warm round that
  * checks outputs (on gen-convert followed by more untimed warm
  * operations), then the timed closed loop. The warm round runs in name
  * order, so every seed starts timing from the same state; the timed
  * region runs whole rounds, each in the seed's order, until at least
  * `seconds` have passed. The last stdout line is the result object; the
  * full record goes to `<runDir>/record.json`. */
final class Runner(workload: String, seed: Long, seconds: Int, trace: Boolean,
                   cores: Int, dataDir: String, runDir: String, expectedPath: String,
                   commit: String) {
  private val fixtureDir = s"$dataDir/${Workloads.tpcSf}"
  private val expected = Json.read(expectedPath)
  private val samples = mutable.ArrayBuffer.empty[ListMap[String, Any]]
  private val failures = mutable.ArrayBuffer.empty[ListMap[String, Any]]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var attempted = 0
  private var failed = 0
  private var timedOps = Vector.empty[String]
  /** Harness work inside the timed region (gen-convert's output checks and
    * clean-up); the timed clock stops for it. */
  private var pausedMs = 0.0
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private val jvmGcPerOp = mutable.Map.empty[String, Double]

  private def span(parent: Int, name: String, op: String)(f: => Unit): Span = {
    val s = Clock.nowMs
    try f finally spans += Span(spans.size + 1, parent, name, op, s, Clock.nowMs)
    spans.last
  }

  private def fail(op: String, layer: String, e: Throwable): Unit = {
    failures += ListMap("workload" -> workload, "op" -> op, "layer" -> layer,
      "error_class" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | "))
    System.err.println(s"[perfbench] $op failed in $layer: ${e.getMessage}")
  }

  /** Run `f` as one phase of an operation: the job tag names the phase, so
    * the jobs it launches are attributed to it. */
  private def phase[A](spark: SparkSession, tag: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    try f finally sc.removeJobTag(tag)
  }

  /** One query operation. Construction always calls the inventory afresh,
    * so no DataFrame or plan is reused across repetitions. */
  private def queryOp(spark: SparkSession, name: String, rep: String): Unit = {
    val checked = rep == Runner.Check
    val timed = Runner.isTimed(rep)
    val op = s"$workload/$seed/$name/$rep"
    val sc = spark.sparkContext
    sc.setJobGroup(op, op)
    attempted += 1
    val gc0 = gcMs
    var layer = "construct"
    var df: DataFrame = null
    var constructS, actionS, partitions = 0.0
    val root = spans.size + 1
    spans += Span(root, 0, "query", op, Clock.nowMs, 0) // closed below
    try {
      val c = span(root, "construct", op) {
        df = phase(spark, "construct")(graft.SparkEntry.queries(name)(spark, fixtureDir))
      }
      constructS = c.ms / 1e3
      // ShuffleScale.tuneFor may raise the session's count during construction
      partitions = spark.conf.get("spark.sql.shuffle.partitions").toDouble
      layer = if (checked) "check" else "execute"
      val a = span(root, if (checked) "check" else "action", op) {
        phase(spark, "execute") {
          if (checked) check(name, Digest.of(df))
          else df.write.format("noop").mode("overwrite").save()
        }
      }
      actionS = a.ms / 1e3
    } catch {
      case NonFatal(e) => failed += 1; fail(op, layer, e)
    } finally {
      sc.clearJobGroup()
      val r = spans(root - 1)
      spans(root - 1) = r.copy(endMs = Clock.nowMs)
    }
    val ok = failures.lastOption.forall(_("op") != op)
    if (ok) samples += ListMap("op" -> op, "kind" -> (if (timed) "timed" else "warm"),
      "name" -> name, "rep" -> rep, "start_ms" -> spans(root - 1).startMs,
      "construct_s" -> constructS, "action_s" -> actionS, "shuffle_partitions" -> partitions,
      "latency_s" -> spans(root - 1).ms / 1e3)
    if (timed) { timedOps :+= op; jvmGcPerOp(op) = (gcMs - gc0) / 1e3 }
  }

  private def check(name: String, got: Digest.Result): Unit = {
    val e = expected.path("queries").path(name)
    if (e.isMissingNode) throw new IllegalStateException(s"no expected output for $name")
    val rowsOnly = expected.path("rows_only").has(name)
    val rowsOk = e.path("rows").asLong == got.rows
    if (!rowsOk || (!rowsOnly && e.path("digest").asText != got.digest))
      throw new IllegalStateException(s"output mismatch for $name: expected " +
        s"${e.path("rows").asLong} rows / ${e.path("digest").asText}, got ${got.rows} / ${got.digest}")
  }

  /** One generate + convert operation: the engine's TPC-H generator writes
    * the raw `table.tbl/part-*` layout, then `Convert.toParquet` converts
    * it. Outputs are counted and deleted after the timed calls, with the
    * timed clock stopped. */
  private def genConvertOp(spark: SparkSession, rep: String): Unit = {
    val checked = rep == Runner.Check
    val timed = Runner.isTimed(rep)
    val op = s"$workload/$seed/tpch/$rep"
    val sc = spark.sparkContext
    val b = graft.schema.Benchmark("tpch")
    val sf = Workloads.genConvertSf
    val raw = s"$runDir/gc/raw-$rep"
    val pq = s"$runDir/gc/parquet-$rep"
    sc.setJobGroup(op, op)
    attempted += 1
    val gc0 = gcMs
    var layer = "generate"
    val root = spans.size + 1
    spans += Span(root, 0, "gen_convert", op, Clock.nowMs, 0)
    var genS, convS = 0.0
    var ok = false
    try {
      genS = span(root, "generate", op) {
        phase(spark, "generate")(b.generate(spark, sf, cores, raw))
      }.ms / 1e3
      layer = "convert"
      convS = span(root, "convert", op) {
        phase(spark, "convert")(graft.convert.Convert.toParquet(spark, b, raw, pq,
          concurrency = cores))
      }.ms / 1e3
      ok = true
    } catch {
      case NonFatal(e) => failed += 1; fail(op, layer, e)
    } finally {
      sc.clearJobGroup()
      spans(root - 1) = spans(root - 1).copy(endMs = Clock.nowMs)
    }
    if (timed) { timedOps :+= op; jvmGcPerOp(op) = (gcMs - gc0) / 1e3 }
    val pause0 = Clock.nowMs
    if (ok) try {
      val want = expected.path("gen_convert_rows").path(sf.toString)
      val rows = b.tableNames.map { t =>
        val n = spark.read.parquet(s"$pq/$t.parquet").count()
        val w = want.path(t).asLong(-1L)
        val rawN = if (checked) Runner.lineCount(s"$raw/$t.${b.tableExt}") else n
        if (n != w || rawN != w)
          throw new IllegalStateException(s"$t: generator $w rows, raw $rawN, parquet $n")
        n
      }.sum
      samples += ListMap("op" -> op, "kind" -> (if (timed) "timed" else "warm"),
        "name" -> "tpch", "rep" -> rep, "start_ms" -> spans(root - 1).startMs,
        "generate_s" -> genS, "convert_s" -> convS, "latency_s" -> spans(root - 1).ms / 1e3,
        "rows" -> rows, "raw_bytes" -> Runner.treeBytes(raw),
        "parquet_bytes" -> Runner.treeBytes(pq))
    } catch {
      case NonFatal(e) => failed += 1; fail(op, "check", e)
    }
    Runner.deleteTree(raw)
    Runner.deleteTree(pq)
    pausedMs += Clock.nowMs - pause0
  }

  def run(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val load0 = Runner.loadavg()
    val tracer = if (trace) Some(new Tracer) else None
    var spark: SparkSession = null
    val sess = span(0, "session", s"$workload/$seed/setup") {
      spark = Main.session(cores, dataDir, runDir)
    }
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val ensure = span(0, "ensure", s"$workload/$seed/setup") {
      if (workload == "tpc") {
        graft.ops.Tpcds.ensure(spark, fixtureDir)
        graft.ops.TpchFull.ensure(spark, fixtureDir)
      }
    }
    val queries = Workloads.queries(workload)
    def round(rep: String, order: Seq[String]): Unit =
      if (workload == "gen-convert") genConvertOp(spark, rep)
      else order.foreach(q => queryOp(spark, q, rep))

    round(Runner.Check, queries)
    // a gen-convert operation is still 20-30% slower on its second
    // execution in a JVM than from its third on (JIT), so one more untimed
    // one follows the checked one; the query workload's warm round is
    // enough for it
    if (workload == "gen-convert") genConvertOp(spark, Runner.Warm)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    heapPools.foreach(_.resetPeakUsage())
    val timed0 = Clock.nowMs
    pausedMs = 0.0
    def timedMs = Clock.nowMs - timed0 - pausedMs
    var r = 0
    while (r == 0 || timedMs < seconds * 1000.0) {
      round(r.toString, Workloads.permuted(queries, seed, r))
      r += 1
    }
    val timedS = timedMs / 1e3
    val peakRssMb = Runner.vmHwmKb() / 1024.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

    // host diagnostics only, never a metric or a divisor; traced runs only,
    // since they cost seconds per run
    val controls = if (!trace) Nil else graft.Bench.controlTasks(spark).map { case (n, f) =>
      val t0 = System.nanoTime(); f(); n -> (System.nanoTime() - t0) / 1e9
    }
    val load1 = Runner.loadavg()
    val sparkVersion = spark.version
    spark.stop() // drains the listener bus before the events are read

    val timed = samples.filter(_("kind") == "timed")
    val lat = timed.map(_("latency_s").asInstanceOf[Double]).sorted.toSeq
    val setupS = (timed0 - jvmStartMs) / 1e3
    val p50 = Runner.quantile(lat, 0.5)
    val opsPerS = Runner.ratio(lat.size, timedS)
    val e2e = ListMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "latency_p50_s" -> (p50, "s"),
      "ops_per_s" -> (opsPerS, "1/s"),
      "peak_rss_mb" -> (peakRssMb, "MB"))
    def sum(k: String) = timed.map(_.getOrElse(k, 0.0).asInstanceOf[Number].doubleValue).sum
    val n = timed.size.max(1)
    val genConvert: ListMap[String, (Double, String)] =
      if (workload != "gen-convert") ListMap.empty
      else ListMap(
        "gen_rows_per_s" -> (Runner.ratio(sum("rows"), sum("generate_s")), "1/s"),
        "convert_mb_per_s" -> (Runner.ratio(sum("raw_bytes") / 1e6, sum("convert_s")), "MB/s"),
        "gen_convert_s" -> (p50, "s"),
        "parquet_bytes_per_raw_byte" -> (Runner.ratio(sum("parquet_bytes"), sum("raw_bytes")), "ratio"))
    val beyondP90 = lat.count(_ > Runner.quantile(lat, 0.9))
    val info = e2e ++ genConvert ++ ListMap(
      "latency_p90_s" -> (Runner.quantile(lat, 0.9), "s"),
      "error_rate" -> (failed.toDouble / attempted.max(1), "ratio"))

    var attribution: Seq[ListMap[String, Any]] = Nil
    val layerMetrics: Seq[(String, Double, String)] = tracer.map { t =>
      val rep = new LayerReport(t, spans, cores, timedOps)
      attribution = rep.attribution
      val means = rep.means(Runner.layerNames.map(_._1)).toMap
      val rawMb = sum("raw_bytes") / 1e6 / n
      val extra = Map(
        "session.start_s" -> sess.ms / 1e3,
        "gen.ensure_s" -> ensure.ms / 1e3,
        "gen.rows" -> sum("rows") / n,
        "gen.written_mb" -> rawMb,
        "gen.rows_per_s" -> Runner.ratio(sum("rows"), sum("generate_s")),
        "convert.in_mb" -> rawMb,
        "convert.out_mb" -> sum("parquet_bytes") / 1e6 / n,
        "convert.mb_per_s" -> Runner.ratio(sum("raw_bytes") / 1e6, sum("convert_s")),
        "ops.shuffle_partitions" -> sum("shuffle_partitions") / n,
        "jvm.gc_s" -> jvmGcPerOp.values.sum / jvmGcPerOp.size.max(1),
        "jvm.heap_peak_mb" -> heapPeakMb,
        "trace.latency_p50_s" -> p50,
        "trace.ops_per_s" -> opsPerS)
      Runner.layerNames.map { case (k, unit) => (k, extra.getOrElse(k, means(k)), unit) }
    }.getOrElse(Nil)

    val metrics: Seq[(String, Double, String)] =
      if (trace) layerMetrics else e2e.toSeq.map { case (k, (v, u)) => (k, v, u) }
    info.foreach { case (k, (v, u)) =>
      val note = if (k == "latency_p90_s") s" (n=${lat.size}, $beyondP90 beyond p90)" else ""
      println(f"[perfbench] $workload%-11s $k%-28s $v%14.6f $u$note")
    }
    if (trace) layerMetrics.foreach { case (k, v, u) =>
      println(f"[perfbench] $workload%-11s $k%-28s $v%14.6f $u")
    }

    val host = ListMap(
      "nproc" -> Runtime.getRuntime.availableProcessors, "cores_used" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "java" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "spark" -> sparkVersion, "scala" -> scala.util.Properties.versionNumberString,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}")
    Json.writeFile(s"$runDir/record.json", ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "commit" -> commit, "host" -> host,
      "diagnostics" -> ListMap("loadavg_start" -> load0, "loadavg_end" -> load1,
        "control_tasks_s" -> ListMap(controls: _*)),
      "queries" -> queries, "rounds" -> r, "timed_s" -> timedS,
      "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> info.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "per_layer" -> ListMap(layerMetrics.map { case (k, v, u) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*),
      "samples" -> samples, "attribution" -> attribution, "failures" -> failures,
      "span_file" -> "spans.jsonl"))
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(s"$runDir/spans.jsonl"))
    try spans.foreach { s =>
      w.write(Json.write(ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      w.newLine()
    } finally w.close()

    println(Json.write(ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, v, u) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*))))
  }
}

object Runner {
  /** Repetition labels: the checked warm round, gen-convert's extra warm
    * operation; timed rounds are 0, 1, … */
  val Check = "check"
  val Warm = "warm"
  def isTimed(rep: String): Boolean = rep.forall(_.isDigit)

  /** Per-layer metrics of a traced run, in report order, with units. */
  val layerNames: Seq[(String, String)] = Seq(
    "session.start_s" -> "s",
    "gen.ensure_s" -> "s", "gen.s" -> "s", "gen.rows" -> "count", "gen.written_mb" -> "MB",
    "gen.task_cpu_s" -> "s", "gen.rows_per_s" -> "1/s",
    "convert.s" -> "s", "convert.in_mb" -> "MB", "convert.out_mb" -> "MB",
    "convert.task_cpu_s" -> "s", "convert.spill_mb" -> "MB", "convert.mb_per_s" -> "MB/s",
    "ops.construct_s" -> "s", "ops.construct_jobs" -> "count", "ops.shuffle_partitions" -> "count",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.input_mb" -> "MB", "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.failed_tasks" -> "count", "exec.core_busy_frac" -> "ratio",
    "exec.driver_gap_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "self.query_s" -> "s", "self.construct_s" -> "s", "self.plan_s" -> "s",
    "self.execute_s" -> "s", "self.job_s" -> "s",
    "self.gen_convert_s" -> "s", "self.generate_s" -> "s", "self.convert_s" -> "s",
    "trace.latency_p50_s" -> "s", "trace.ops_per_s" -> "1/s")

  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Linear-interpolated quantile of sorted values (numpy's default). */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0 else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def vmHwmKb(): Double = readProc("/proc/self/status")
    .flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
    .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  def loadavg(): String = readProc("/proc/loadavg").map(_.trim).getOrElse("")

  private def readProc(p: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
    catch { case NonFatal(_) => None }

  def treeBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(f => java.nio.file.Files.isRegularFile(f))
        .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
        .map(f => java.nio.file.Files.size(f)).sum
      finally s.close()
    }
  }

  /** Newline count of every part file under a raw table dir. */
  def lineCount(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(f => java.nio.file.Files.isRegularFile(f))
      .filter(_.getFileName.toString.startsWith("part-")).map { f =>
        val in = java.nio.file.Files.newInputStream(f)
        try {
          val buf = new Array[Byte](1 << 16)
          var n = 0L
          var r = in.read(buf)
          while (r > 0) {
            var i = 0
            while (i < r) { if (buf(i) == '\n') n += 1; i += 1 }
            r = in.read(buf)
          }
          n
        } finally in.close()
      }.sum
    finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      try s.forEach(f => java.nio.file.Files.delete(f)) finally s.close()
    }
  }
}
