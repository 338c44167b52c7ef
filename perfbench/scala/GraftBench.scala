package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.config.{Settings, SystemConn, TableSettings}
import graft.operators.{Dedup, Ingestion, Maintenance, Similarity}
import graft.sinks.ComplianceLog
import graft.sources.{ParquetSource, Tables}

/** The JVM half of the benchmark: one workload, one SparkSession, one
  * closed-loop client. It calls only public functions of graft and times
  * them from outside. With tracing on it also records a span around every
  * call into a layer plus the Spark jobs, stages and Catalyst phases that
  * ran under it; `run.py` turns the raw record written here into metrics.
  *
  * Usage: graftbench.Main <workload> <inputs> <work> <seconds> <trace 0|1>
  *        <seed> <cpus> <out.json>
  */
object Main {

  // ------------------------------------------------------------ recording

  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms at ns resolution, on the same base as the
    * millisecond timestamps of Spark's listener events. */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  final class Recorder(val traced: Boolean) {
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    private var stack = List.empty[Int]
    private var nextId = 0
    var trace = ""

    /** Runs `f` inside a span named `name` (a no-op when untraced). */
    def span[T](name: String)(f: => T): T =
      if (!traced) f
      else {
        val id = nextId
        nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val start = nowMs()
        try f
        finally {
          stack = stack.tail
          spans += Map("id" -> id, "parent" -> parent, "trace" -> trace,
            "name" -> name, "start_ms" -> start, "end_ms" -> nowMs())
        }
      }
  }

  /** Spark job/stage record (traced) and the output-byte total every run
    * needs for write amplification. */
  final class JobListener(traced: Boolean) extends SparkListener {
    val jobs = mutable.ArrayBuffer[mutable.Map[String, Any]]()
    private val byId = mutable.Map[Int, mutable.Map[String, Any]]()
    val stages = mutable.ArrayBuffer[Map[String, Any]]()
    @volatile var outputBytes = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced)
      synchronized {
        val j = mutable.Map[String, Any]("id" -> e.jobId,
          "start_ms" -> e.time.toDouble, "end_ms" -> e.time.toDouble,
          "stages" -> e.stageIds)
        jobs += j
        byId(e.jobId) = j
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced)
      synchronized { byId.get(e.jobId).foreach(_("end_ms") = e.time.toDouble) }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) synchronized {
        outputBytes += m.outputMetrics.bytesWritten
        if (traced) stages += Map(
          "id" -> e.stageInfo.stageId,
          "cpu_ns" -> m.executorCpuTime,
          "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "in_bytes" -> m.inputMetrics.bytesRead,
          "in_records" -> m.inputMetrics.recordsRead,
          "out_bytes" -> m.outputMetrics.bytesWritten,
          "out_records" -> m.outputMetrics.recordsWritten)
      }
    }
  }

  private def phases(qe: QueryExecution): Map[String, Any] = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(s => (s.endTimeMs - s.startTimeMs).toDouble)
      .getOrElse(0.0)
    Map("start_ms" -> p.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"))
  }

  /** Catalyst phase times of every action (the rules of `graft.plans`
    * run inside these phases). */
  final class PlanListener extends QueryExecutionListener {
    val actions = mutable.ArrayBuffer[Map[String, Any]]()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized { actions += phases(qe) + ("action" -> f) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      synchronized { actions += phases(qe) + ("action" -> f) }
  }

  // ------------------------------------------------------------ harness

  final case class Op(kind: String, name: String, pass: Int, latS: Double,
      ok: Boolean, error: String = "")
  final case class Call(name: String, pass: Int, latS: Double)

  final class Ctx(val spark: SparkSession, val rec: Recorder,
      val inputs: String, val work: String, val seconds: Double,
      val seed: Long) {
    val ops = mutable.ArrayBuffer[Op]()
    val calls = mutable.ArrayBuffer[Call]()
    private var pass = -1 // of the running operation; -1 outside one
    val info = mutable.LinkedHashMap[String, Any]()
    val checks = mutable.LinkedHashMap[String, String]() // name -> "ok" | why not
    val persistent = mutable.ArrayBuffer[Int]()
    /** Traced runs list the data files under these roots after each op,
      * so files written (rewrites included) can be counted. */
    var dataRoots = Seq.empty[String]
    val filesSeen = mutable.Set[String]()
    var filesWritten = 0L

    /** Times one operation; a throw counts as a failed operation. */
    def op(kind: String, name: String, pass: Int = 0)(f: => Unit): Boolean = {
      rec.trace = s"$kind:$name:$pass"
      this.pass = pass
      val t = System.nanoTime()
      val err = try { rec.span(kind)(f); "" }
        catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      ops += Op(kind, name, pass, (System.nanoTime() - t) / 1e9, err.isEmpty,
        err.take(500))
      this.pass = -1
      persistent += spark.sparkContext.getPersistentRDDs.size
      if (rec.traced) countNewFiles()
      err.isEmpty
    }

    /** Times one graft call inside an operation (a span when traced). */
    def call[T](name: String)(f: => T): T = {
      val t = System.nanoTime()
      try rec.span(name)(f)
      finally calls += Call(name, pass, (System.nanoTime() - t) / 1e9)
    }

    def countNewFiles(): Unit = {
      val now = dataRoots.flatMap(dataFiles).toSet
      filesWritten += (now -- filesSeen).size
      filesSeen.clear()
      filesSeen ++= now
    }

    def check(name: String)(f: => Option[String]): Unit = {
      val r = try f catch { case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      checks(name) = r.fold("ok")(_.take(500))
    }
  }

  def dataFiles(root: String): Seq[String] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".") &&
          !f.toString.contains("/_")
      }).map(_.toString).toList
      finally s.close()
    }
  }

  def leafFileCounts(root: String): Seq[Int] =
    dataFiles(root).groupBy(f => Paths.get(f).getParent.toString)
      .values.map(_.size).toSeq

  def bytesUnder(paths: Seq[String]): Long =
    paths.map(p => Files.size(Paths.get(p))).sum

  def copyInto(src: Path, dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.copy(src, dir.resolve(src.getFileName), StandardCopyOption.REPLACE_EXISTING)
  }

  /** The timed closed loop: repeats `unit` (a batch, a cycle or a pass)
    * while `more` holds and either fewer than `min` repetitions ran or the
    * next one, if it takes as long as the last one, ends nearer the
    * deadline than stopping now would. */
  def untilDeadline(deadlineMs: Double, min: Int = 1)(more: => Boolean)(
      unit: => Unit): Unit = {
    var lastMs = 0.0
    var n = 0
    while (more && (n < min || nowMs() + lastMs / 2 < deadlineMs)) {
      val t = nowMs()
      unit
      lastMs = nowMs() - t
      n += 1
    }
  }

  def timed(f: => Unit): Double = {
    val t = System.nanoTime()
    f
    (System.nanoTime() - t) / 1e9
  }

  def listSorted(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  // ------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, seconds, trace, seed, cpus, out) = args
    val traced = trace == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobsL = new JobListener(traced)
    spark.sparkContext.addSparkListener(jobsL)
    val plansL = new PlanListener
    if (traced) spark.listenerManager.register(plansL)
    // JVM start → session ready: the set-up cost every run pays once
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val ctx = new Ctx(spark, new Recorder(traced), inputs, work,
      seconds.toDouble, seed.toLong)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs() = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

    val result = mutable.LinkedHashMap[String, Any]("workload" -> workload,
      "session_s" -> sessionS)
    var setupReps = Seq.empty[Double]
    var timedStart, timedEnd = 0.0
    var gcStart = 0L
    var outBytesStart = 0L
    var ranPhase = false
    try {
      val wl: Workload = workload match {
        case "ingest_watermark" => new IngestWatermark(ctx)
        case "corpus_lifecycle" => new CorpusLifecycle(ctx)
        case "analytics_mix" => new AnalyticsMix(ctx)
      }
      setupReps = (0 until 3).map(r => timed(wl.setup(r)))
      result("warmup_s") = timed(wl.warmup())
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      if (traced) ctx.countNewFiles()
      heapPools.foreach(_.resetPeakUsage())
      gcStart = gcMs()
      outBytesStart = jobsL.outputBytes
      timedStart = nowMs()
      wl.run(timedStart + ctx.seconds * 1000)
      timedEnd = nowMs()
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      ranPhase = true
      result("gc_s") = (gcMs() - gcStart) / 1000.0
      result("heap_peak_mb") =
        heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
      result("bytes_written") = jobsL.outputBytes - outBytesStart
      result("verify_s") = timed(wl.verify())
    } catch {
      case e: Throwable =>
        ctx.checks("harness") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        e.printStackTrace()
    }
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    result("setup_reps_s") = setupReps
    result("timed_start_ms") = timedStart
    result("timed_end_ms") = timedEnd
    result("timed_wall_s") = if (ranPhase) (timedEnd - timedStart) / 1000.0 else 0.0
    result("ops") = ctx.ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
      "pass" -> o.pass, "lat_s" -> o.latS, "ok" -> o.ok, "error" -> o.error))
    result("calls") = ctx.calls.map(c => Map("name" -> c.name, "pass" -> c.pass,
      "lat_s" -> c.latS))
    result("persistent_rdds") = ctx.persistent
    result("files_written") = ctx.filesWritten
    result("info") = ctx.info
    result("checks") = ctx.checks
    if (traced) result("trace") = Map(
      "spans" -> ctx.rec.spans,
      "jobs" -> jobsL.synchronized(jobsL.jobs.map(_.toMap).toList),
      "stages" -> jobsL.synchronized(jobsL.stages.toList),
      "plans" -> plansL.synchronized(plansL.actions.toList))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(out), mapper.writeValueAsString(result))
    // the record is on disk and the run's directory is discarded: skip
    // Spark's orderly shutdown
    Runtime.getRuntime.halt(0)
  }

  // ------------------------------------------------------------ workloads

  trait Workload {
    /** One set-up repetition; the last one leaves the state `run` uses. */
    def setup(rep: Int): Unit
    /** Untimed warm-up after the last repetition (counted in set-up). */
    def warmup(): Unit = ()
    /** The timed closed loop; stops starting operations at `deadlineMs`. */
    def run(deadlineMs: Double): Unit
    /** Untimed output checks (ingest's table check runs in DuckDB). */
    def verify(): Unit
  }

  /** `Ingestion.ingestionStep` over a landing directory that grows by one
    * day-file per batch. */
  final class IngestWatermark(c: Ctx) extends Workload {
    import c._
    private val settings = Settings(Map("lims" -> SystemConn("parquet",
      tableSettings = Map("EVENTS" -> TableSettings(refColumn = "ts",
        refFirstValue = "2024-01-01T00:00:00.000000Z",
        dateColumn = Some("ts"))))))
    private var root = ""
    private def landing = s"$root/landing"
    private def table = Paths.get(s"$root/table")
    private def output = s"$root/table/data"

    private def step(): Ingestion.StepResult =
      call("operators.Ingestion.ingestionStep") {
        Ingestion.ingestionStep(spark, "lims", "EVENTS", ParquetSource(landing),
          table, output, settings, Seq("YEAR", "MONTH"), counting = true)
      }

    def setup(rep: Int): Unit = {
      if (root.nonEmpty) deleteTree(root)
      root = s"$work/ingest_$rep"
      listSorted(s"$inputs/history").foreach(f => copyInto(f, Paths.get(landing)))
      step() // warm-up: ingests the history and sets the first watermark
      dataRoots = Seq(output)
    }

    private lazy val dayFiles = listSorted(s"$inputs/batches").iterator
    private var nLanded = 0
    private var rows, landed = 0L

    /** Lands the next day-file and ingests it: one operation. */
    private def batch(pass: Int): Boolean = {
      val f = dayFiles.next()
      copyInto(f, Paths.get(landing))
      nLanded += 1
      var n = 0L
      val ok = op("batch", f.getFileName.toString, pass) {
        n = step().rowCount.getOrElse(0L)
      }
      if (pass >= 0) {
        rows += n
        landed += Files.size(f)
      }
      ok
    }

    /** Untimed: the first day-files, so the timed batches run warm. */
    override def warmup(): Unit = (0 until 4).foreach(_ => batch(-1))

    def run(deadlineMs: Double): Unit = {
      var ok = true
      untilDeadline(deadlineMs)(ok && dayFiles.hasNext) { ok = batch(0) }
      info ++= Seq("batches" -> nLanded, "rows_committed" -> rows,
        "bytes_landed" -> landed, "landing" -> landing, "output" -> output,
        "sync" -> table.resolve("sync.json").toString)
    }

    def verify(): Unit = ()
  }

  /** The stored-index lifecycle: probe, dedup decision, appends and ANN
    * scan per batch; takedowns plus `Maintenance.run` every few batches. */
  final class CorpusLifecycle(c: Ctx) extends Workload {
    import c._
    import spark.implicits._
    val BandsCfg = (3, 32, 8, 16) // shingleSize, numHashes, bands, parts
    val Tau = 0.5 // Jaccard threshold that makes a candidate a duplicate
    val Budget = 1000000L
    private var root = ""
    private def bucket = s"$root/bucket"
    private def ivf = s"$root/ivf"
    private def ledger = s"$root/ledger"
    private lazy val base = spark.read.parquet(s"$inputs/base.parquet")
    private lazy val baseTexts: Map[Long, String] = base.select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    private lazy val takedowns: Seq[Seq[Long]] = {
      new ObjectMapper().readTree(Files.readString(Paths.get(s"$inputs/takedowns.json")))
        .elements().asScala.map(_.elements().asScala.map(_.asLong).toSeq).toSeq
    }
    private lazy val batchFiles = listSorted(s"$inputs/batches")

    // the decided state the checks replay
    val texts = mutable.Map[Long, String]()
    val admitted = mutable.ArrayBuffer[Set[Long]]()
    val candidates = mutable.ArrayBuffer[Set[(Long, Long)]]()
    val survivors = mutable.ArrayBuffer[Seq[Long]]()
    val takenDown = mutable.ArrayBuffer[Seq[Long]]()
    val events = mutable.ArrayBuffer[String]() // "b<i>" | "m<w>" in order
    var planted, plantedRejected, verified, candidateCount = 0L
    var rowsDeleted, decided = 0L

    /** The candidate pairs whose word-3-gram Jaccard reaches `Tau`,
      * scored by graft over the pair members' texts. */
    def verifiedPairs(pairs: Set[(Long, Long)]): Set[(Long, Long)] = {
      val ids = pairs.toSeq.flatMap { case (a, b) => Seq(a, b) }.distinct
      Dedup.ngramJaccard(ids.map(id => (id, texts(id))).toDF("doc_id", "text"),
        pairs.toSeq.toDF("id_a", "id_b"), "doc_id", "text", BandsCfg._1)
        .where(col("jaccard") >= Tau).select("id_a", "id_b").as[(Long, Long)]
        .collect().toSet
    }

    /** A batch doc is a duplicate when a verified pair links it to an
      * indexed doc or to a kept, lower-id doc of the same batch. */
    def decide(ids: Seq[Long], admit: Set[Long], verified: Set[(Long, Long)],
        indexed: Long => Boolean): Seq[Long] = {
      val partners = verified.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupMap(_._1)(_._2)
      val kept = mutable.LinkedHashSet[Long]()
      ids.sorted.foreach { d =>
        val dup = partners.getOrElse(d, Nil)
          .exists(p => indexed(p) || (p < d && kept.contains(p)))
        if (admit(d) && !dup) kept += d
      }
      kept.toSeq
    }

    def setup(rep: Int): Unit = {
      if (root.nonEmpty) deleteTree(root)
      root = s"$work/corpus_$rep"
      val (sh, nh, bands, parts) = BandsCfg
      Dedup.writeBucketIndex(base.select("doc_id", "text"), bucket, "text",
        "doc_id", sh, nh, bands, parts)
      Similarity.writeIvfPqIndex(base.select("doc_id", "embedding"), ivf,
        "doc_id", "embedding", dim = 64, m = 4, kCodes = 8, rounds = 1,
        nlist = 16)
      dataRoots = Seq(bucket, ivf, ledger)
      texts.clear()
      texts ++= baseTexts
    }

    /** Untimed: every call of the loop runs once. */
    override def warmup(): Unit = {
      batch(0, pass = -1)
      maintenance(0, pass = -1)
    }

    def batch(i: Int, pass: Int = 0): Unit = {
      val f = batchFiles(i)
      val landed = spark.read.parquet(f.toString)
      val docs = landed.select("doc_id", "text")
      val meta = landed.select("doc_id", "text", "planted_src")
        .as[(Long, String, Long)].collect()
      val ids = meta.map(_._1).toSeq
      var kept = Seq.empty[Long]
      op("batch", f.getFileName.toString, pass) {
        val admit = call("operators.Dedup.probeAdmission") {
          Dedup.probeAdmission(spark, bucket, docs, "text", "doc_id", Budget)
            .where(col("admit")).select("doc_id").as[Long].collect().toSet
        }
        val pairs = call("operators.Dedup.incrementalCandidatesStored") {
          Dedup.incrementalCandidatesStored(spark, bucket, docs, "text", "doc_id")
            .as[(Long, Long)].collect().toSet
        }
        meta.foreach { case (id, t, _) => texts(id) = t }
        val ok = call("operators.Dedup.ngramJaccard")(verifiedPairs(pairs))
        kept = decide(ids, admit, ok, id => id < ids.min && texts.contains(id))
        val keep = col("doc_id").isin(kept.map(Long.box): _*)
        call("operators.Dedup.appendToBucketIndex") {
          Dedup.appendToBucketIndex(spark, bucket, docs.where(keep), "text")
        }
        val hits = call("operators.Similarity.ivfPqScanStored") {
          Similarity.ivfPqScanStored(spark, ivf,
            landed.select("doc_id", "embedding"), "doc_id", "embedding",
            nprobe = 4, k = 10).count()
        }
        require(hits > 0 && hits <= 10L * ids.size, s"ANN scan returned $hits rows")
        call("operators.Similarity.appendToIvfPqIndex") {
          Similarity.appendToIvfPqIndex(spark, ivf,
            landed.where(keep).select("doc_id", "embedding"), "doc_id",
            "embedding")
        }
        admitted += admit
        candidates += pairs
        survivors += kept
        if (pass >= 0) {
          candidateCount += pairs.size
          verified += ok.size
        }
      }
      val keptSet = kept.toSet
      ids.filterNot(keptSet).foreach(texts.remove)
      if (pass >= 0) {
        val plantedIds = meta.filter(_._3 >= 0).map(_._1)
        planted += plantedIds.size
        plantedRejected += plantedIds.count(id => !keptSet(id))
        decided += ids.size
      }
      events += s"b$i"
    }

    def maintenance(w: Int, pass: Int = 0): Unit = {
      val ids = takedowns(w)
      val del = ids.toDF("doc_id")
      op("maint", s"window_$w", pass) {
        val lsh = call("operators.Dedup.deleteFromBucketIndex") {
          Dedup.deleteFromBucketIndex(spark, bucket, del, Some(ComplianceLog.Key(
            ledger, "takedown-lsh", ComplianceLog.tableLineage(spark, bucket), w)))
        }
        val ann = call("operators.Similarity.deleteFromIvfPqIndex") {
          Similarity.deleteFromIvfPqIndex(spark, ivf, del, Some(ComplianceLog.Key(
            ledger, "takedown-ivf", ComplianceLog.tableLineage(spark, ivf), w)))
        }
        val reports = Seq(bucket, ivf).map(r =>
          call("operators.Maintenance.run")(Maintenance.run(spark, r)))
        if (pass >= 0) rowsDeleted += lsh._1 + ann._1
        info("max_files_per_dir_reported") = reports.map(_.maxFilesPerDir).max
      }
      ids.foreach(texts.remove)
      takenDown += ids
      events += s"m$w"
    }

    /** Whole cycles — three batches, then a maintenance window — until
      * the deadline (batch 0 and window 0 ran in the warm-up). */
    def run(deadlineMs: Double): Unit = {
      var i = 1
      var w = 1
      val failedBefore = ops.count(!_.ok)
      untilDeadline(deadlineMs)(i + 2 < batchFiles.size && w < takedowns.size &&
          ops.count(!_.ok) == failedBefore) {
        (i until i + 3).foreach(batch(_))
        maintenance(w)
        i += 3
        w += 1
      }
      info ++= Seq("batches" -> (i - 1), "windows" -> (w - 1), "docs_decided" -> decided,
        "planted" -> planted, "planted_rejected" -> plantedRejected,
        "candidates" -> candidateCount, "verified" -> verified,
        "rows_deleted" -> rowsDeleted,
        "takedown_ids" -> takenDown.drop(1).map(_.size).sum,
        "bytes_landed" -> bytesUnder(batchFiles.slice(1, i).map(_.toString)),
        "index_data_files" -> dataRoots.take(2).map(r => dataFiles(r).size).sum,
        "index_max_files_per_dir" ->
          dataRoots.take(2).flatMap(leafFileCounts).maxOption.getOrElse(0))
    }

    def verify(): Unit = {
      val (sh, nh, bands, parts) = BandsCfg
      val down = takenDown.flatten.toSet
      val keptIds = survivors.flatten.toSeq
      val batchDocs = spark.read.parquet(batchFiles.take(survivors.size)
        .map(_.toString): _*)
      val finalDocs = base.where(!col("doc_id").isin(down.toSeq.map(Long.box): _*))
        .select("doc_id", "text", "embedding")
        .unionByName(batchDocs.where(col("doc_id").isin(keptIds.map(Long.box): _*))
          .select("doc_id", "text", "embedding"))
        .localCheckpoint()
      def sameRows(a: DataFrame, b: DataFrame): Option[String] = {
        val (x, y) = (a.exceptAll(b).count(), b.exceptAll(a).count())
        if (x == 0 && y == 0) None else Some(s"$x stored rows not rebuilt, $y rebuilt rows not stored")
      }
      check("bucket_index_equals_rebuild") {
        val cols = Seq("doc_id", "band", "bucket", "bpart").map(col)
        sameRows(spark.read.parquet(bucket).select(cols: _*),
          Dedup.bucketIndex(finalDocs, "text", "doc_id", sh, nh, bands, parts)
            .select(cols: _*))
      }
      check("ivfpq_index_equals_rebuild") {
        val meta = graft.config.Sidecar.read(spark, ivf, "Similarity.writeIvfPqIndex")
        val rebuilt = Similarity.ivfPqEncode(finalDocs, "doc_id", "embedding",
          graft.config.Sidecar.doubles2(meta, "coarse"),
          graft.config.Sidecar.doubles3(meta, "codebooks"))
        val stored = spark.read.parquet(ivf).select(rebuilt.columns.toIndexedSeq.map(col): _*)
        val n = graft.config.Sidecar.long(meta, "count")
        sameRows(stored, rebuilt).orElse(
          if (n == finalDocs.count()) None else Some(s"sidecar count $n"))
      }
      check("survivors_equal_in_memory_decision") {
        // replay the same batch/takedown sequence against in-memory frames
        val live = mutable.LinkedHashMap[Long, String]() ++= baseTexts
        texts.clear()
        texts ++= baseTexts
        var bad = Option.empty[String]
        var b = 0
        events.foreach {
          case e if e.startsWith("m") =>
            takenDown(e.tail.toInt).foreach(live.remove)
          case _ if bad.isEmpty && b < survivors.size =>
            val landed = spark.read.parquet(batchFiles(b).toString)
              .select("doc_id", "text").as[(Long, String)].collect()
            val newDocs = landed.toSeq.toDF("doc_id", "text")
            val pairs = Dedup.incrementalCandidates(live.toSeq.toDF("doc_id", "text"),
              newDocs, "text", "doc_id", sh, nh, bands).as[(Long, Long)].collect().toSet
            landed.foreach { case (id, t) => texts(id) = t }
            val ids = landed.map(_._1).toSeq
            val kept = decide(ids, admitted(b), verifiedPairs(pairs), live.contains)
            if (pairs != candidates(b)) bad = Some(s"batch $b: ${(pairs -- candidates(b)).size} " +
              s"in-memory candidates missing from the stored probe, " +
              s"${(candidates(b) -- pairs).size} extra")
            else if (kept != survivors(b)) bad = Some(s"batch $b: survivors differ")
            landed.filter(d => kept.contains(d._1)).foreach(d => live(d._1) = d._2)
            b += 1
          case _ => ()
        }
        bad
      }
    }
  }

  /** Registry queries from `SparkEntry.queries` into a `noop` sink, timed
    * as build → plan → execute, in a seeded order per pass. */
  final class AnalyticsMix(c: Ctx) extends Workload {
    import c._
    /** One query per family, with the table each reads. */
    val Mix = Seq("q237_hits" -> "lineitem", "q52_dedup_components" -> "documents",
      "q84_clustering_coefficient" -> "lineitem", "q31_ngram_jaccard" -> "documents",
      "q72_bm25" -> "documents")
    private lazy val queries = graft.SparkEntry.queries
    val planPhases = mutable.ArrayBuffer[Map[String, Any]]()
    /** The frames the last pass timed; the check writes these out. */
    val lastFrames = mutable.Map[String, DataFrame]()

    def setup(rep: Int): Unit = {
      Tables.invalidate(spark, inputs)
      Mix.map(_._2).distinct.foreach(n => Tables(spark, inputs, n).limit(1).count())
    }

    def one(q: String, pass: Int): Unit =
      op("query", q, pass) {
        val df = rec.span("build") { queries(q)(spark, inputs) }
        lastFrames(q) = df
        rec.span("plan") { df.queryExecution.executedPlan }
        if (rec.traced) planPhases += phases(df.queryExecution) + ("query" -> q)
        rec.span("exec") { df.write.format("noop").mode("overwrite").save() }
      }

    def onePass(pass: Int): Unit =
      new scala.util.Random(seed * 1000 + pass).shuffle(Mix.map(_._1))
        .foreach(one(_, pass))

    /** The JVM's first (cold) pass and one more are the warm-up. */
    override def warmup(): Unit = Seq(0, -1).foreach(onePass)

    /** Whole warm passes until the deadline, at least two, so every query
      * has two samples. */
    def run(deadlineMs: Double): Unit = {
      var pass = 1
      val failedBefore = ops.count(!_.ok)
      untilDeadline(deadlineMs, min = 2)(ops.count(!_.ok) == failedBefore) {
        onePass(pass)
        pass += 1
      }
      info ++= Seq("passes" -> (pass - 1), "mix" -> Mix.toMap, "plan_phases" -> planPhases)
    }

    def verify(): Unit = {
      val outDir = s"$work/oracle_out"
      val rows = mutable.LinkedHashMap[String, Long]()
      Mix.map(_._1).foreach { q =>
        check(s"$q.runs") {
          lastFrames(q).write.mode("overwrite").parquet(s"$outDir/$q")
          rows(q) = spark.read.parquet(s"$outDir/$q").count()
          None
        }
      }
      val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), mapper
        .writeValueAsString(Mix.map(q => q._1 -> graft.SparkEntry.oracleSql(q._1)).toMap))
      Files.writeString(Paths.get(s"$outDir/manifest.json"),
        mapper.writeValueAsString(Mix.map(_._1)))
      info ++= Seq("oracle_out" -> outDir, "result_rows" -> rows)
    }
  }
}
