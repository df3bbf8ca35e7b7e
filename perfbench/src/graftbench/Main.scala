package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{ApplyStats, CdcApply, CdcOut}
import graft.model.Corpus
import graft.streaming.CdcStream
import graft.table.LakeTable

/** Command line of one benchmark run (the launcher, perfbench/run.py,
  * passes all of them). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, tiny: Boolean, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m.get("size").contains("tiny"), m.getOrElse("cores", "4").toInt)
  }
}

/** One run's measurements: timed calls (each one attempted operation),
  * their samples, counters, the set-up phases and every failure. */
final class Run(val spark: SparkSession, val tr: Trace, val a: Args) {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val setup = mutable.LinkedHashMap.empty[String, Double]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var firstTimedUs = -1L
  /** Stolen share of the CPU time wanted from main() to the first timed call. */
  var setupSteal = 0.0
  private val cpuAtStart = Steal.ticks()
  var measuredMs = 0.0

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, ArrayBuffer.empty) += v

  /** Untimed set-up work: its wall lands in `setup_s`, never in a
    * measured sample. */
  def untimed[T](name: String)(f: => T): T = {
    val t0 = tr.nowUs
    try tr.span("setup." + name)(_ => f)
    finally setup(name) = setup.getOrElse(name, 0.0) + (tr.nowUs - t0) / 1e6
  }

  /** One timed call into the engine. A throw counts as a failed
    * operation and is recorded, never swallowed silently. */
  def timed[T](name: String, key: String)(f: Span => T): Option[(T, Span)] = {
    if (firstTimedUs < 0) {
      firstTimedUs = tr.nowUs
      setupSteal = Steal.share(cpuAtStart, Steal.ticks())
    }
    attempted += 1
    var sp: Span = null
    try {
      val r = tr.span(name) { s => sp = s; f(s) }
      sample(key, sp.ms)
      sample(key + "_steal", sp.attrs("steal"))
      measuredMs += sp.ms
      Some((r, sp))
    } catch {
      case NonFatal(e) =>
        if (sp != null) measuredMs += sp.ms
        failed += 1
        failures += s"$name threw: $e"
        None
    }
  }

  /** An oracle check of `ops` operations already attempted. */
  def check(ok: Boolean, ops: Long = 1)(what: => String): Unit =
    if (!ok) { failed += ops; failures += what }
}

object Main {

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val work = Paths.get(a.work)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Trace(spark, s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}",
      listeners = a.trace)
    val run = new Run(spark, tr, a)
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    run.setup("session") = (tr.nowUs - jvmStartUs) / 1e6
    try {
      a.workload match {
        case "bulk-backfill" => Workloads.bulkBackfill(run)
        case "steady-tail" => Workloads.steadyTail(run)
        case "train" =>
          // perfbench/build.py's class-data training run: both workloads
          // in one JVM, so its archive holds the classes of either
          Workloads.bulkBackfill(new Run(spark, tr, a.copy(work = s"${a.work}/bulk")))
          Workloads.steadyTail(new Run(spark, tr, a.copy(work = s"${a.work}/tail")))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (a.trace) tr.write(work.resolve("trace.jsonl"))
      val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum
      val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      val setupS = (run.firstTimedUs - jvmStartUs) / 1e6
      val result = Json.obj(
        "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
        "trace" -> a.trace, "tiny" -> a.tiny,
        "setup_s" -> setupS, "setup_s_steal" -> run.setupSteal,
        "setup_phases_s" -> run.setup.toMap,
        "measured_s" -> run.measuredMs / 1000.0,
        "samples" -> run.samples.map { case (k, v) => k -> v.toList }.toMap,
        "counters" -> run.counters.toMap,
        "attempted" -> run.attempted, "failed" -> run.failed,
        "failures" -> run.failures.toList,
        "jvm" -> Map("gc_ms" -> gcMs, "heap_peak_mb" -> heapPeakMb))
      Files.writeString(work.resolve("result.json"), result)
    } finally spark.stop()
  }
}

/** The workloads. Each generates its changelog from `--seed`, sets up
  * and warms up untimed, then times closed-loop calls into the engine's
  * public API on one client thread, checking every result against
  * [[Oracle]] outside the timed region. */
object Workloads {

  /** 16 buckets for 4 cores: at 64, every call's fixed per-bucket cost
    * (tasks, files, footers) doubled and a run no longer fit its time. */
  val NumBuckets = 16
  /** Timed rounds of bulk-backfill: at least this many, for a median;
    * more while the next round still fits in `--seconds`. */
  val MinRounds = 3
  val MaxRounds = 12
  /** NDJSON segments the tail is offered, one per micro-batch; fixed, so
    * `--seconds` leaves the tail's corpus and final state alone. */
  val TailSegments = 5
  /** Consumers the tail's table is pulled by: each pulls once untimed
    * after the preload, then once timed after the drain (incremental). */
  val TailConsumers = 3
  /** Malformed lines appended to each of two tail segments. */
  val MalformedPerSegment = 4

  private def lookupConvs(seed: Long, nConvs: Int, k: Int): Seq[String] = {
    // the corpus's own u^3 skew: hot conversations are looked up most
    val rnd = new scala.util.Random(seed * 31 + 7)
    Seq.fill(k) {
      val u = rnd.nextDouble()
      f"conv${math.min((math.pow(u, 3.0) * nConvs).toLong, nConvs - 1L)}%08d"
    }
  }

  private def bucketsOf(spark: SparkSession, convs: Seq[String]): Map[String, Int] = {
    import spark.implicits._
    convs.distinct.toDF("conv_id")
      .select(col("conv_id"), LakeTable.bucketColFor(col("conv_id"), NumBuckets))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
  }

  private def corpus(r: Run, n: Long, nConvs: Int): DataFrame =
    Corpus.changeEvents(r.spark, n, nConvs = nConvs, maxTurns = 40, seed = r.a.seed,
      partitions = 8)

  /** What every read in a run is checked against. */
  final case class Expect(events: DataFrame, fp: (Long, Long), scan: (Long, Long),
      convs: Seq[String], buckets: Map[String, Int],
      rows: Map[String, Set[(Int, String)]])

  private def expect(r: Run, events: DataFrame, nConvs: Int, nLookups: Int): Expect =
    r.untimed("oracle") {
      val state = Oracle.finalState(events).cache()
      val convs = lookupConvs(r.a.seed, nConvs, nLookups)
      val e = Expect(events, Oracle.fingerprint(state), Oracle.scanAnswer(state), convs,
        bucketsOf(r.spark, convs), Oracle.rowsOf(state, convs.distinct))
      state.unpersist()
      e
    }

  private def checkState(r: Run, table: LakeTable, e: Expect, ops: Long, what: String): Unit = {
    val got = table.read(r.spark)
    val fp = Oracle.fingerprint(got)
    r.check(fp == e.fp, ops) {
      s"$what: final state differs from Corpus.oracleFinalState in " +
        s"${Oracle.diffRows(got, Oracle.finalState(e.events))} rows " +
        s"(count ${fp._1} vs ${e.fp._1})"
    }
  }

  /** The files a traced read's frame lists, read after its span closed
    * so the timed call does no extra planning. */
  private def inputFiles(r: Run, df: DataFrame, sp: Span): Unit =
    if (r.a.trace) sp.attrs("files") = df.inputFiles.length.toDouble

  private def lookup(r: Run, table: LakeTable, e: Expect, conv: String): Unit = {
    r.timed("table.lookup", "lookup_ms") { _ =>
      val raw = table.readBuckets(r.spark, Seq(e.buckets(conv)))
      val live = if (raw.columns.contains("_deleted"))
        raw.where(!coalesce(col("_deleted"), lit(false))) else raw
      val df = live.where(col("conv_id") === conv).select("turn_idx", "text")
      (df, df.collect())
    }.foreach { case ((df, rows), sp) =>
      inputFiles(r, df, sp)
      val got = Oracle.turnsOf(rows)
      r.check(got == e.rows(conv))(
        s"lookup $conv: ${got.size} turns, oracle has ${e.rows(conv).size}")
    }
  }

  private def scan(r: Run, table: LakeTable, e: Expect): Unit =
    r.timed("table.scan", "scan_ms") { _ =>
      val df = table.read(r.spark).agg(count(lit(1)), max("_txid"))
      (df, df.head())
    }.foreach { case ((df, row), sp) =>
      inputFiles(r, df, sp)
      val got = (row.getLong(0), row.getLong(1))
      r.check(got == e.scan)(s"scan: (rows, max txid) $got, oracle ${e.scan}")
    }

  private def pull(r: Run, table: LakeTable, consumer: String, want: Long): Unit =
    r.timed("cdc.pull", "pull_ms") { _ => CdcOut.pull(r.spark, table, consumer) }
      .foreach { case (p, sp) =>
        val rows = p.map(_.rows).getOrElse(0L)
        sp.attrs("rows") = rows.toDouble
        r.check(rows == want)(s"pull: $rows rows, oracle $want")
      }

  /** Bytes of the parquet files the table's head commit references,
    * over its live rows (space amplification). */
  private def storedBytesPerRow(table: LakeTable, liveRows: Long): Double = {
    val c = table.currentCommit().get
    val root = Paths.get(table.location)
    val bytes = (c.buckets.values ++ c.deltas.values.flatten).toSeq.distinct.map { rel =>
      val s = Files.walk(root.resolve(rel))
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(Files.size).sum
      finally s.close()
    }.sum
    bytes.toDouble / math.max(1L, liveRows)
  }

  private def commitCounters(r: Run, table: LakeTable, afterVersion: Long): Unit = {
    val cs = table.commitLog().filter(_.version > afterVersion)
    r.counters("commits") = cs.size
    r.counters("maintenance_commits") = cs.count(c =>
      c.metrics.getOrElse("consolidatedBuckets", 0L) > 0 ||
        c.metrics.getOrElse("foldedBuckets", 0L) > 0 || c.metrics.contains("compaction"))
    r.counters("delta_depth_max") = cs.map(_.deltaDepth).maxOption.getOrElse(0).toDouble
    r.counters("corrupt_rows") = cs.map(_.metrics.getOrElse("corruptRows", 0L)).sum
  }

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  /** Bulk replay of a whole changelog into a fresh table, then reads of
    * the result; repeated for `--seconds` of timed calls. */
  def bulkBackfill(r: Run): Unit = {
    val spark = r.spark
    val work = r.a.work
    val n = if (r.a.tiny) 20000L else 100000L
    val nConvs = math.max(200L, n / 200).toInt
    val nLookups = 3
    val events = r.untimed("generate") {
      corpus(r, n, nConvs).write.parquet(s"$work/changelog")
      spark.read.parquet(s"$work/changelog")
    }
    val offered = r.untimed("generate")(events.count())
    val e = expect(r, events, nConvs, nLookups * MaxRounds)
    // one untimed round of the same calls at full size
    r.untimed("warmup") {
      val warm = new LakeTable(s"$work/warm", NumBuckets)
      CdcApply.replay(spark, warm, events, nBatches = 2)
      warm.readBuckets(spark, Seq(e.buckets(e.convs.head))).collect()
      warm.read(spark).agg(count(lit(1)), max("_txid")).head()
      CdcOut.pull(spark, warm, s"$work/warm-consumer")
      deleteTree(s"$work/warm")
      deleteTree(s"$work/warm-consumer")
    }
    var round = 0
    while (round < MinRounds ||
        (round < MaxRounds && r.measuredMs * (round + 1) / round <= r.a.seconds * 1000)) {
      val dir = s"$work/table-$round"
      val table = new LakeTable(dir, NumBuckets)
      r.timed("cdc.replay", "ingest_ms") { _ =>
        CdcApply.replay(spark, table, events, nBatches = 2)
      }.foreach { case (stats, sp) =>
        r.sample("events_per_s", offered / (sp.ms / 1000.0))
        r.sample("events_per_s_steal", sp.attrs("steal"))
        sp.attrs("events") = offered.toDouble
        sp.attrs("applied") = stats.map(_.applied).sum.toDouble
        sp.attrs("commits") = stats.count(_.version > 0).toDouble
        checkState(r, table, e, 1, s"replay round $round")
        (0 until nLookups).foreach(i => lookup(r, table, e, e.convs(round * nLookups + i)))
        scan(r, table, e)
        pull(r, table, s"$work/consumer-$round", e.fp._1)
        r.sample("stored_bytes_per_row", storedBytesPerRow(table, e.fp._1))
        commitCounters(r, table, 0L)
        r.counters("events_offered") = offered.toDouble
        r.counters("events_applied") = stats.map(_.applied).sum.toDouble
      }
      deleteTree(dir)
      deleteTree(s"$work/consumer-$round")
      round += 1
    }
    r.counters("rounds") = round
  }

  /** A structured-streaming tail draining NDJSON segments (one per
    * micro-batch) onto a preloaded table, then reads of the result and
    * incremental pulls of the tail's changes. */
  def steadyTail(r: Run): Unit = {
    val spark = r.spark
    val work = r.a.work
    val seg = if (r.a.tiny) 2000L else 10000L
    val nSeg = TailSegments
    val half = nSeg * seg
    val n = 2 * half
    val nConvs = math.max(200L, n / 200).toInt
    // the tail's changelog is its NDJSON segments; the events stay cached
    // for the oracle, the preload and the segments, and are dropped
    // before the first timed call
    val events = r.untimed("generate") {
      val ev = corpus(r, n, nConvs).cache()
      ev.count()
      ev
    }
    val e = expect(r, events, nConvs, 12)
    // an incremental pull emits one row per key whose live row differs
    // between the preload and the final state
    val pullWant = r.untimed("oracle") {
      Oracle.changedKeys(Oracle.finalState(events.where(col("_txid") <= half)),
        Oracle.finalState(events))
    }
    val table = new LakeTable(s"$work/table", NumBuckets)
    val consumers = (0 until TailConsumers).map(i => s"$work/consumer-$i")
    val preloadVersion = r.untimed("preload") {
      CdcApply.applyBatch(spark, table, events.where(col("_txid") <= half),
        pruneBuckets = false).version
    }
    r.untimed("bootstrap-pulls")(consumers.foreach(c => CdcOut.pull(spark, table, c)))
    val log = s"$work/log"
    val malformedSegs = Seq(1, nSeg - 1)
    val offered = r.untimed("segments") {
      val tail = events.where(col("_txid") > half).cache()
      (0 until nSeg).foreach { i =>
        val part = tail.where(col("_txid") <= half + (i + 1) * seg && col("_txid") > half + i * seg)
        val dir = f"$log/seg$i%04d"
        CdcStream.writeSegment(Corpus.shuffled(part, seed = r.a.seed), dir)
        if (malformedSegs.contains(i)) {
          val file = Files.list(Paths.get(dir)).iterator().asScala
            .find(_.getFileName.toString.startsWith("part-")).get
          val bad = (0 until MalformedPerSegment).map(k =>
            s"""{"_txid": ${k + 1}, "conv_id": "conv-broken-$k", "turn_idx": """)
          Files.write(file, bad.asJava, java.nio.file.StandardOpenOption.APPEND)
          // the local file system verifies the writer's checksum sidecar
          Files.deleteIfExists(file.resolveSibling("." + file.getFileName + ".crc"))
        }
      }
      val lines = tail.count()
      tail.unpersist()
      events.unpersist(blocking = true)
      lines + malformedSegs.size * MalformedPerSegment
    }
    val injected = malformedSegs.size * MalformedPerSegment

    // micro-batch walls are taken between successive onBatch callbacks:
    // the callback's own `ms` stops before auto-compaction, vacuum and
    // the log checkpoint, and IngestMetrics' lag is relative to the
    // corpus's 2014 event times
    val batches = ArrayBuffer.empty[(Long, Long, Double, Long, ApplyStats)]
    r.timed("streaming.drain", "drain_ms") { sp =>
      var last = sp.startUs
      var cpu = Steal.ticks()
      val q = CdcStream.start(spark, log, table, s"$work/checkpoint", maxFilesPerTrigger = 1,
        onBatch = (ms, st) => {
          val now = r.tr.nowUs
          val cpuNow = Steal.ticks()
          batches.synchronized {
            batches += ((last, now, Steal.share(cpu, cpuNow), ms, st))
          }
          last = now
          cpu = cpuNow
        })
      q.awaitTermination()
      q.exception.foreach(ex => throw ex)
    }.foreach { case (_, sp) =>
      val bs = batches.synchronized(batches.toList)
      r.attempted += bs.size - 1 // each micro-batch is one operation
      bs.zipWithIndex.foreach { case ((s, t, steal, ms, st), i) =>
        val b = r.tr.interval("streaming.batch", sp, s, t, steal)
        b.attrs ++= Seq("callback_ms" -> ms.toDouble, "applied" -> st.applied.toDouble,
          "version" -> st.version.toDouble, "index" -> i.toDouble)
        r.sample("ingest_ms", b.ms)
        r.sample("ingest_ms_steal", steal)
        r.sample("callback_ms", ms.toDouble)
      }
      r.sample("events_per_s", offered / (sp.ms / 1000.0))
      r.sample("events_per_s_steal", sp.attrs("steal"))
      sp.attrs("events") = offered.toDouble
      sp.attrs("commits") = bs.size.toDouble
      r.counters("events_offered") = offered.toDouble
      r.counters("events_applied") = bs.map(_._5.applied).sum.toDouble
      r.counters("batches") = bs.size
      r.counters("segments") = nSeg
      r.counters("corrupt_injected") = injected
      commitCounters(r, table, preloadVersion)
      val ops = math.max(1, bs.size).toLong
      r.check(bs.size == nSeg, ops)(s"tail ran ${bs.size} micro-batches for $nSeg segments")
      r.check(r.counters("corrupt_rows") == injected, ops)(
        s"tail quarantined ${r.counters("corrupt_rows")} rows, $injected were injected")
      checkState(r, table, e, ops, "tail")
      e.convs.foreach(c => lookup(r, table, e, c))
      (0 until 2).foreach(_ => scan(r, table, e))
      consumers.foreach(c => pull(r, table, c, pullWant))
      r.sample("stored_bytes_per_row", storedBytesPerRow(table, e.fp._1))
    }
  }
}
