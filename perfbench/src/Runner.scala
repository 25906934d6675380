package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cli.{Orchestrator, RunValidations}
import graft.core.ParquetTable

/** Runs one benchmark workload in this JVM against the public entry
  * points (Orchestrator.runDag/monthlyDag, RunValidations.validateAll,
  * SparkEntry.queries) and writes a result JSON for perfbench/run.py.
  *
  *   Runner <workload> <inputDir> <workDir> <seconds> <trace 0|1> <out.json>
  */
object Runner {

  final case class Span(id: Int, name: String, parent: Int, start: Long,
      wallStartMs: Long, var end: Long = -1L)

  /** Spans of this run, kept in memory; the innermost open span is the
    * Spark job group, so a listener can charge jobs to it.
    */
  final class Tracer(sc: SparkContext, traced: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private val stack = mutable.Stack.empty[Span]

    def span[T](name: String)(body: => T): T = {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack.push(s)
      if (traced) sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.end = System.nanoTime()
        stack.pop()
        if (traced) stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

    def seconds(s: Span): Double = (s.end - s.start) / 1e9
    def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
    def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

    /** Span and all its descendants. */
    def subtree(s: Span): Set[Int] = {
      val ids = mutable.Set(s.id)
      spans.foreach(c => if (ids.contains(c.parent)) ids += c.id)
      ids.toSet
    }
  }

  /** Job/stage/task counters per job group (= span id). Registered
    * only in the traced run, around the traced DAGs or pass.
    */
  final class Counters extends SparkListener {
    final class Acc {
      var jobs, stages, tasks = 0L
      var taskNs, cpuNs, gcMs, inBytes, inRecords, shufRead, shufWrite,
        spill = 0L
    }
    val bySpan = mutable.Map.empty[Int, Acc]
    val jobSpan = mutable.Map.empty[Int, Int]
    val stageSpan = mutable.Map.empty[Int, Int]
    val jobTimes = mutable.Map.empty[Int, (Long, Long)] // wall-clock ms
    @volatile var started, ended = 0
    @volatile var callbackNs = 0L

    private def timed(f: => Unit): Unit = synchronized {
      val t = System.nanoTime(); f; callbackNs += System.nanoTime() - t
    }
    private def acc(span: Int) = bySpan.getOrElseUpdate(span, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .map(_.toInt).getOrElse(-1)
      jobSpan(e.jobId) = span
      e.stageIds.foreach(stageSpan(_) = span)
      jobTimes(e.jobId) = (e.time, Long.MaxValue)
      val a = acc(span)
      a.jobs += 1
      started += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time) }
      ended += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val a = acc(stageSpan.getOrElse(e.stageInfo.stageId, -1))
      a.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val a = acc(stageSpan.getOrElse(e.stageId, -1))
      a.tasks += 1
      a.taskNs += e.taskInfo.duration * 1000000L
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.shufRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    /** The listener bus is asynchronous: wait until every started job
      * has ended and the counts stop moving.
      */
    def drain(): Unit = {
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 30e9.toLong
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = ended
        if (now == started && now == last) stable += 1 else stable = 0
        last = now
      }
    }

    def sum(spanIds: Set[Int]): Acc = synchronized {
      val t = new Acc
      bySpan.foreach { case (id, a) if spanIds.contains(id) =>
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.taskNs += a.taskNs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
        t.inBytes += a.inBytes; t.inRecords += a.inRecords
        t.shufRead += a.shufRead; t.shufWrite += a.shufWrite
        t.spill += a.spill
      case _ => }
      t
    }

    /** Seconds of the wall-clock window [startMs, endMs] during which no
      * job of these spans was running: planning, codegen, commit and
      * listing time outside any job.
      */
    def uncoveredS(spanIds: Set[Int], startMs: Long, endMs: Long): Double =
      synchronized {
        val iv = jobTimes.collect {
          case (j, (s, e)) if spanIds.contains(jobSpan.getOrElse(j, -1)) =>
            (s max startMs, (if (e == Long.MaxValue) endMs else e) min endMs)
        }.filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
        var covered = 0L
        var curS = -1L
        var curE = -1L
        iv.foreach { case (s, e) =>
          if (s > curE) { covered += curE - curS; curS = s; curE = e }
          else curE = curE max e
        }
        covered += curE - curS
        ((endMs - startMs) - covered) / 1000.0
      }

    def firstJobStartMs(spanIds: Set[Int]): Option[Long] = synchronized {
      jobTimes.collect { case (j, (s, _)) if spanIds.contains(jobSpan.getOrElse(j, -1)) => s }
        .reduceOption(_ min _)
    }
  }

  // --- tiny JSON writer (no dependency beyond the JDK) ---
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** (relative path -> (bytes, mtime)) of the data files under `dir`. */
  def dataFiles(dir: java.io.File): Map[String, (Long, Long)] = {
    val root = dir.toPath
    if (!dir.exists()) return Map.empty
    val walk = java.nio.file.Files.walk(root)
    try {
      val it = walk.iterator()
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val p = it.next()
        val f = p.toFile
        if (f.isFile && f.getName.startsWith("part-"))
          b += root.relativize(p).toString -> (f.length, f.lastModified)
      }
      b.result()
    } finally walk.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-independent content hash of a table: row count plus the
    * wrapping sum of per-row xxhash64 over every column.
    */
  def contentHash(df: DataFrame): String = {
    val cols = df.columns.sorted.toSeq.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  val corpusOps: Seq[String] = Seq(
    "q17_token_stats", "q18_text_quality", "q19_lang_id", "q20_fingerprint",
    "q21_exact_dedup", "q69_pii_redaction", "q23_minhash_sig",
    "q24_minhash_lsh_pairs", "q25_simhash_pairs", "q39_neardup_dedup",
    "q43_dedup_clusters", "q27_ann_topk", "q33_ann_lsh_topk",
    "q53_ann_ivf_topk", "q117_ivf_pq_topk", "q48_tfidf_topterms",
    "q79_bm25_topk", "q93_cdc_chunks")

  val marts = Seq("daily_airline_performance", "daily_airport_performance",
    "route_performance")

  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, secondsArg, traceArg, out) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val threads = graft.core.GraftSession.localCores
    val spark = graft.core.GraftSession.local(threads, s"perfbench-$workload")
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, traced)
    val counters = new Counters

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "threads" -> threads,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    def check(name: String, ok: Boolean, detail: Any = ""): Unit =
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail.toString)

    try workload match {
      case "etl_month" =>
        runEtl(spark, tracer, counters, traced, input, work, result, ops,
          check, layer)
      case "corpus_ops" =>
        runCorpus(spark, tracer, counters, traced, input, work, seconds,
          result, ops, check, layer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch { case e: Throwable =>
      check("workload", false, s"${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
    }

    result("ops") = ops
    result("checks") = checks
    result("peak_rss_mb") = peakRssMb()
    if (traced) {
      result("per_layer") = layer
      val spanFile = new java.io.File(work, "spans.json")
      val t0 = tracer.spans.headOption.map(_.start).getOrElse(0L)
      java.nio.file.Files.writeString(spanFile.toPath, json(tracer.spans.map(s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "run" -> workload, "start_ms" -> (s.start - t0) / 1e6,
          "end_ms" -> (s.end - t0) / 1e6,
          "self_ms" -> (tracer.seconds(s) -
            tracer.children(s).map(tracer.seconds).sum) * 1000))))
      result("spans_file") = spanFile.getPath
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json(result))
    spark.stop()
  }

  type Check = (String, Boolean, Any) => Unit

  def runEtl(spark: SparkSession, tracer: Tracer, counters: Counters,
      traced: Boolean, input: String, work: String,
      result: mutable.Map[String, Any], ops: mutable.Buffer[Map[String, Any]],
      check: Check, layer: mutable.Map[String, Double]): Unit = {
    val wh = s"$work/warehouse"
    val whDir = new java.io.File(wh)
    val airports = s"$input/L_AIRPORT_ID.csv"
    val carriers = s"$input/L_UNIQUE_CARRIERS.csv"
    def bytes(f: String) = new java.io.File(f).length.toDouble
    def count(table: String) = ParquetTable.read(spark, s"$wh/$table").count()
    def martHashes() = marts.map(m =>
      m -> contentHash(ParquetTable.read(spark, s"$wh/gold/$m"))).toMap

    val phases = Seq(("build", s"$input/month.csv", false),
      ("fold", s"$input/delta.csv", true), ("refold", s"$input/delta.csv", true))
    val dagRuns = mutable.ArrayBuffer.empty[(String, Seq[Orchestrator.TaskRun], Span)]
    if (traced) spark.sparkContext.addSparkListener(counters)
    var silverBefore = 0L
    var hashesBefore = Map.empty[String, String]
    result("first_op_epoch_ms") = System.currentTimeMillis()
    for ((phase, csv, incremental) <- phases) {
      val filesBefore = if (traced) dataFiles(whDir) else Map.empty[String, (Long, Long)]
      val dag = Orchestrator.monthlyDag(spark, csv, airports, carriers, wh, incremental)
        .map { t =>
          val layerName = if (t.name == "validate") "quality" else "pipeline"
          t.copy(run = () => tracer.span(s"$layerName.$phase.${t.name}")(t.run()))
        }
      val runs = tracer.span(s"cli.$phase")(Orchestrator.runDag(dag))
      val span = tracer.named(s"cli.$phase").last
      dagRuns += ((phase, runs, span))
      val ok = runs.forall(r => r.status == Orchestrator.Succeeded && r.attempts == 1)
      ops += Map("name" -> phase, "ms" -> tracer.seconds(span) * 1000, "ok" -> ok)
      check(s"$phase.tasks_succeeded_first_attempt", ok,
        runs.map(r => s"${r.name}=${r.status}/${r.attempts}${r.error.getOrElse("")}")
          .mkString(" "))

      // --- output checks, outside the timed DAGs ---
      if (phase == "fold") { silverBefore = count("silver/flights"); hashesBefore = martHashes() }
      if (phase == "refold") {
        val silver = count("silver/flights")
        val fact = count("gold/fact_flights")
        check("fact_rows_eq_silver_rows", fact == silver, s"$fact vs $silver")
        val appended = silver - silverBefore
        layer("pipeline.refold_rows_appended") = appended.toDouble
        check("refold.appends_zero_rows", appended == 0, appended)
        val after = martHashes()
        check("refold.mart_hashes_unchanged", after == hashesBefore,
          s"$hashesBefore -> $after")
        result("mart_hashes") = after
      }
      if (traced) {
        val filesAfter = dataFiles(whDir)
        val written = filesAfter.filter { case (p, v) => !filesBefore.get(p).contains(v) }
        layer(s"core.$phase.files_written") = written.size.toDouble
        layer(s"core.$phase.write_amp") = written.values.map(_._1).sum / bytes(csv)
      }
    }

    if (traced) {
      counters.drain()
      val allRuns = dagRuns.flatMap(_._2)
      layer("cli.task_attempts") = allRuns.map(_.attempts).sum.toDouble / allRuns.size
      layer("cli.dag_gap_s") = dagRuns.map { case (_, _, s) =>
        tracer.seconds(s) - tracer.children(s).map(tracer.seconds).sum }.sum
      for ((phase, runs, _) <- dagRuns; r <- runs) {
        val layerName = if (r.name == "validate") "quality" else "pipeline"
        val name = s"$layerName.$phase.${r.name}"
        layer(s"${name}_s") = tracer.named(name).map(tracer.seconds).sum
      }
      val deltaRows = (scala.io.Source.fromFile(s"$input/delta.csv").getLines().size - 1).toDouble
      for (p <- Seq("fold", "refold"))
        layer(s"pipeline.${p}_read_amp") = counters.sum(tracer.named(
          s"pipeline.$p.incremental").flatMap(tracer.subtree).toSet).inRecords / deltaRows
      // the DAG's validate task already requires validateAll to pass;
      // the explicit sweep here only counts the suites
      val validation = RunValidations.validateAll(spark, wh)
      check("validate_all_passes", RunValidations.allPassed(validation),
        validation.map { case (t, r) => s"$t=${r.map(_.success)}" }.mkString(" "))
      val validateSpans = tracer.spans.filter(_.name.endsWith(".validate")).toSeq
      layer("quality.jobs_per_suite") = counters.sum(
        validateSpans.flatMap(tracer.subtree).toSet).jobs.toDouble /
        (validation.size * validateSpans.size)
      val bronze = tracer.named("pipeline.build.bronze").flatMap(tracer.subtree).toSet
      layer("core.csv_read_amp") = counters.sum(bronze).inBytes /
        (bytes(s"$input/month.csv") + bytes(airports) + bytes(carriers))
      layer("core.small_files") = dataFiles(whDir).values.count(_._1 < (1L << 20)).toDouble
      sparkCounters(counters, tracer, dagRuns.map(_._3).toSeq, layer)
      layer("trace.overhead_frac") =
        counters.callbackNs / 1e9 / dagRuns.map(d => tracer.seconds(d._3)).sum
    }
  }

  /** Listener sums over the given timed root spans and their subtrees. */
  def sparkCounters(c: Counters, tracer: Tracer, roots: Seq[Span],
      layer: mutable.Map[String, Double]): Unit = {
    val spans = roots.flatMap(tracer.subtree).toSet
    val a = c.sum(spans)
    val wallS = roots.map(tracer.seconds).sum
    val threads = graft.core.GraftSession.localCores
    layer("spark.jobs") = a.jobs.toDouble
    layer("spark.stages") = a.stages.toDouble
    layer("spark.tasks") = a.tasks.toDouble
    layer("spark.task_s") = a.taskNs / 1e9
    layer("spark.cpu_s") = a.cpuNs / 1e9
    layer("spark.gc_s") = a.gcMs / 1e3
    layer("spark.input_bytes") = a.inBytes.toDouble
    layer("spark.shuffle_read_bytes") = a.shufRead.toDouble
    layer("spark.shuffle_write_bytes") = a.shufWrite.toDouble
    layer("spark.spill_bytes") = a.spill.toDouble
    layer("spark.driver_s") = roots.map(r => c.uncoveredS(spans, r.wallStartMs,
      r.wallStartMs + (tracer.seconds(r) * 1000).toLong)).sum
    layer("spark.busy_frac") = a.taskNs / 1e9 / (wallS * threads)
  }

  def runCorpus(spark: SparkSession, tracer: Tracer, counters: Counters,
      traced: Boolean, input: String, work: String, seconds: Double,
      result: mutable.Map[String, Any], ops: mutable.Buffer[Map[String, Any]],
      check: Check, layer: mutable.Map[String, Double]): Unit = {
    val registry = graft.SparkEntry.queries
    result("oracles") = corpusOps.map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap
    val nDocs = ParquetTable.read(spark, s"$input/documents.parquet").count()
    // warm-up pass (set-up time): each operator's output is written once
    // for the oracle check, which also plans, code-generates and JIT-
    // compiles it. The operators share no session state, so the cold
    // pass runs them concurrently to bound set-up time.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      graft.core.GraftSession.localCores)
    val warm = corpusOps.map { name =>
      name -> pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = registry(name)(spark, input).write.mode("overwrite")
          .parquet(s"$work/out/$name")
      })
    }
    warm.foreach { case (name, f) =>
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException =>
        check(s"$name.warmup", false, s"${e.getCause}")
      }
    }
    pool.shutdown()

    def pass(p: Int, tag: String): Double = tracer.span(s"corpus.pass$tag") {
      val t = System.nanoTime()
      for (name <- corpusOps) {
        val ok = try {
          tracer.span(s"operators.$name") {
            registry(name)(spark, input).write.format("noop").mode("overwrite").save()
          }
          true
        } catch { case e: Throwable =>
          check(s"$name.run", false, s"${e.getClass.getName}: ${e.getMessage}")
          false
        }
        if (tag.isEmpty)
          ops += Map("name" -> name, "pass" -> p,
            "ms" -> tracer.seconds(tracer.named(s"operators.$name").last) * 1000,
            "ok" -> ok)
      }
      (System.nanoTime() - t) / 1e9
    }

    val t0 = System.nanoTime()
    result("first_op_epoch_ms") = System.currentTimeMillis()
    val passes = mutable.ArrayBuffer.empty[Double]
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      passes += pass(passes.size, "")
    result("passes_s") = passes

    if (traced) {
      // one pass with the listener charging every job to its operator
      // span, then one untraced pass to compare against: both come after
      // the timed passes, past the steepest part of the warm-up
      spark.sparkContext.addSparkListener(counters)
      val tracedPass = pass(0, "_traced")
      counters.drain()
      spark.sparkContext.removeSparkListener(counters)
      val untracedPass = pass(0, "_untraced")
      val tracedIds = tracer.named("corpus.pass_traced").flatMap(tracer.subtree).toSet
      for (name <- corpusOps) {
        val spans = tracer.named(s"operators.$name").filter(s => tracedIds.contains(s.id))
        layer(s"operators.${name}_ms") = median(spans.map(tracer.seconds(_) * 1000))
      }
      val planMs = tracer.spans.filter(s => s.name.startsWith("operators.") &&
          tracedIds.contains(s.id)).flatMap { s =>
        counters.firstJobStartMs(tracer.subtree(s)).map(first =>
          (first - s.wallStartMs).toDouble)
      }.toSeq
      layer("queries.plan_ms") = median(planMs)
      val a = counters.sum(tracedIds)
      layer("operators.shuffle_bytes_per_doc") = a.shufWrite.toDouble / nDocs
      sparkCounters(counters, tracer, tracer.named("corpus.pass_traced"), layer)
      layer("trace.overhead_frac") = tracedPass / untracedPass - 1
    }
  }
}
