package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.api.Graft
import graft.ingest.{EditLogDecoder, EditsFileFinder}
import graft.model.{ChangeEvent, Op}
import graft.streaming.{ChangeDeltaCodec, ChangeStreamPipeline}
import org.apache.spark.sql.{Dataset, SparkSession}

/** `catchup`: batch. Binary edit-log segments go through
  * `EditLogDecoder.read` → `ChangeDeltaCodec.encodeRecords` →
  * `ChangeStreamPipeline.writeTopic` → `decodeRecords` (the agent → Kafka
  * → source-processor hop over the file-backed topic) → `Graft.replay`
  * for the initial backlog, then rounds of `Graft.replayIncrement`, each
  * reading only the segment published since the last applied
  * transaction. No streaming at all. */
object Catchup {

  /** Transactions in the initial backlog, and per segment. */
  val BacklogTx = 20000
  val SegmentTx = 5000
  /** Timed replays of the backlog per run, each into a fresh state dir (the
    * last one takes the increments); the throughput is their median. */
  val BacklogRuns = 3
  /** Transactions per incremental round (one new segment each). */
  val RoundTx = 1000
  /** Rounds always run: one past `Graft.AutoCompactAfter`, so every run
    * crosses auto-compaction once and then increments on the compacted
    * state. The increment tail is the slowest of these first rounds: a
    * fixed window that always holds the one compacting round, so the tail
    * neither misses compaction nor moves when a faster program fits more
    * rounds into the same time. */
  val MinRounds = Graft.AutoCompactAfter + 1
  val MaxRounds = 60
  val Namespace = "hcdc"

  final case class Round(ms: Double, versionsBefore: Int, versionsAfter: Int)

  def run(spark: SparkSession, args: Main.Args, work: Path,
      clock: Main.Clock, actions: Actions): Main.Result = {
    implicit val s: SparkSession = spark
    val edits = Files.createDirectories(work.resolve("edits"))
    val pending = Files.createDirectories(work.resolve("pending"))
    val topic = work.resolve("topic")

    // ── inputs: backlog segments in place, round segments held back ──
    val (segs, genMs) = LiveTail.timed {
      val j = new Gen.Journal(args.seed)
      val backlog = (0 until BacklogTx / SegmentTx).map(_ => j.segment(SegmentTx))
      val rounds = (0 until MaxRounds).map(_ => j.segment(RoundTx))
      (backlog, rounds)
    }
    val (backlog, rounds) = segs
    backlog.foreach(sg => Files.write(edits.resolve(sg.name), sg.bytes))
    rounds.foreach(sg => Files.write(pending.resolve(sg.name), sg.bytes))
    clock.mark("generate")

    // warm-up: the same backlog and one round into a scratch state dir, so
    // the timed replay does not pay for class loading, JIT and codegen
    Trace.off {
      val g = new Graft(spark, work.resolve("warm-state").toString)
      g.replay(hop(spark, edits, -1L, work.resolve("warm-topic/r0"), args.cores))
      val wdir = Files.createDirectories(work.resolve("warm-edits"))
      val sg = rounds.last
      Files.write(wdir.resolve(sg.name), sg.bytes)
      g.replayIncrement(hop(spark, wdir, sg.startTx, work.resolve("warm-topic/r1"), args.cores))
    }
    release()
    val graft = new Graft(spark, work.resolve("state").toString)
    clock.markSetupDone()

    // ── timed: initial backlog ──
    val backlogTx = backlog.map(_.ops.size).sum.toLong
    def replayBacklog(into: Graft, topicDir: Path): Double = {
      val (_, ms) = LiveTail.timed {
        val ev = hop(spark, edits, -1L, topicDir, args.cores)
        Trace.span("state.replay")(into.replay(ev))
      }
      release()
      ms
    }
    val backlogRuns = (1 until BacklogRuns).map(k => replayBacklog(
      new Graft(spark, work.resolve(s"state-b$k").toString), topic.resolve(s"b$k"))) :+
      replayBacklog(graft, topic.resolve("r0"))
    val backlogMs = Main.pct(backlogRuns.sorted.toArray, 50)

    // ── timed: increment rounds until the run time is used (≥ MinRounds) ──
    val done = Vector.newBuilder[Round]
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    var i = 0
    while (i < rounds.size && (i < MinRounds || System.nanoTime() < deadline)) {
      val sg = rounds(i)
      Files.move(pending.resolve(sg.name), edits.resolve(sg.name),
        StandardCopyOption.ATOMIC_MOVE)
      val vBefore = graft.versions().size
      val (_, ms) = LiveTail.timed {
        val ev = hop(spark, edits, sg.startTx, topic.resolve(s"r${i + 1}"), args.cores)
        Trace.span("api.increment")(graft.replayIncrement(ev))
      }
      val vAfter = graft.versions().size
      if (Trace.enabled) Trace.span("api.state_read")(graft.stateTable.count())
      release()
      done += Round(ms, vBefore, vAfter)
      i += 1
    }
    val rs = done.result()
    val applied = backlog ++ rounds.take(rs.size)

    // ── correctness ──
    // decoded events (re-read from each round's topic) == generated ones
    val allEvents = applied.flatMap(_.events)
    val decoded = ChangeDeltaCodec.decodeRecords((0 to rs.size)
      .map(k => spark.read.parquet(topic.resolve(s"r$k").toString)).reduce(_ union _)).collect()
    val decodedOk = decoded.sortBy(_.txId).toSeq == allEvents.sortBy(_.txId)
    val expectedState = Oracle.replay(allEvents)
    val observed = graft.stateTable.collect().toSeq
    val mismatched = Oracle.mismatches(observed, expectedState)

    // ── metrics ──
    val incr = rs.map(_.ms).toArray.sorted
    val window = rs.take(MinRounds)
    val compacting = window.indices.filter(k => window(k).versionsAfter < window(k).versionsBefore)
    val notes = Seq(
      s"backlog: ${backlogTx} tx in ${backlog.size} segments, " + backlogRuns.map(ms => f"$ms%.0f").mkString("/") + " ms",
      f"increments: ${rs.size} rounds of ~$RoundTx tx, compactions ${rs.count(r => r.versionsAfter < r.versionsBefore)}",
      s"increment tail = slowest of the first $MinRounds rounds; compacting round(s) among them: " +
        compacting.map(k => f"#${k + 1} ${window(k).ms}%.0f ms").mkString(", "),
      s"decoded events equal generated: $decodedOk; state mismatches: $mismatched")
    val layers =
      if (!Trace.enabled) Map.empty[String, Double]
      else {
        val expanded = allEvents.map(e => if (e.op == Op.RenameFile) 4 else 1).sum.toDouble
        Map(
          "state.events_in" -> allEvents.size.toDouble,
          "state.rename_fanout" -> expanded / allEvents.size,
          "state.accepted_ratio" -> observed.map(_.nOps).sum / expanded,
          "state.files_out" -> observed.size.toDouble,
          "api.versions_merged" -> rs.map(_.versionsBefore).sum.toDouble / rs.size,
          "api.compactions" -> rs.count(r => r.versionsAfter < r.versionsBefore).toDouble,
          "streaming.topic_bytes" -> Main.dirBytes(topic).toDouble,
          "load.gen_ms" -> genMs) ++ persistSplit(actions)
      }
    Main.Result(
      attempted = backlogTx + rs.size,
      failed = mismatched + (if (decodedOk) 0 else 1),
      checks = Seq("decoded-events-equal-generated" -> decodedOk,
        "state-table-equals-fold" -> (mismatched == 0)),
      metrics = Seq(
        Main.Metric("latency_p50_ms", "increment_p50_ms", Main.pct(incr, 50), "ms"),
        Main.Metric("latency_tail_ms", "increment_tail_ms", window.map(_.ms).max, "ms"),
        Main.Metric("throughput_per_s", "backlog_tx_per_s", backlogTx / (backlogMs / 1000.0), "1/s")),
      notes = notes, layers = layers)
  }

  /** Decode the segments at or past `startTx` and carry them over the
    * file-backed topic: encode → write topic → read → decode. Each stage's
    * output is cached in both modes, so traced and untraced runs execute
    * the same plan; with tracing on, the cache is filled inside the stage's
    * span so its time and counts are its own. */
  def hop(spark: SparkSession, edits: Path, startTx: Long, topicDir: Path,
      partitions: Int): Dataset[ChangeEvent] = {
    implicit val s: SparkSession = spark
    if (Trace.enabled) { // segment counts, outside the timed span
      val names = Main.listNames(edits)
      val segs = EditsFileFinder.findEditsFiles(names, startTx, -1L)
      Trace.add("ingest.segments_listed", names.size)
      Trace.add("ingest.segments_read", segs.size)
      Trace.add("ingest.bytes_read", segs.map(sg => Files.size(edits.resolve(sg.name))).sum.toDouble)
      Trace.add("ingest.crc_failures", segs.map(sg => EditLogDecoder.decodeSegment(
        Files.readAllBytes(edits.resolve(sg.name)), startTx).count(!_.crcOk)).sum.toDouble)
    }
    val events = Trace.span("ingest.decode") {
      materialize(EditLogDecoder.read(spark, edits.toString, startTx), "ingest.ops_decoded")
    }
    val records = Trace.span("streaming.encode") {
      materialize(ChangeDeltaCodec.encodeRecords(events, Namespace), "")
    }
    Trace.span("streaming.topic_write") {
      ChangeStreamPipeline.writeTopic(records, topicDir.toString, partitions)
    }
    Trace.span("streaming.topic_decode") {
      materialize(ChangeDeltaCodec.decodeRecords(spark.read.parquet(topicDir.toString)), "")
    }
  }

  /** Split the Spark actions inside `state.replay` / `api.increment`
    * spans: writes of a state version are persistence; in an increment,
    * everything after its first version write is the auto-compaction. */
  private def persistSplit(actions: Actions): Map[String, Double] = {
    Thread.sleep(300) // let the listener bus deliver the last callbacks
    val spans = Trace.all.filter(sp => sp.name == "state.replay" || sp.name == "api.increment")
    var persist, compact = 0.0
    spans.foreach { sp =>
      val acts = actions.within(sp.startNs, sp.endNs).sortBy(_.endNs)
      val writes = acts.filter(_.outputPath.contains("/files_v"))
      persist += writes.map(_.ms).sum
      writes.headOption.foreach { first =>
        if (sp.name == "api.increment")
          compact += acts.filter(_.startNs >= first.endNs).map(_.ms).sum
      }
    }
    Map("api.persist_ms" -> persist, "api.compact_ms" -> compact)
  }

  private val cached = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  private def release(): Unit = { cached.foreach(_.unpersist()); cached.clear() }

  /** Cache a stage's output; traced runs also fill the cache inside the
    * current span with one count, an extra Spark job per stage that is the
    * tracing overhead (the counted rows go to `counter` when named). */
  private def materialize[T](ds: Dataset[T], counter: String): Dataset[T] = {
    val c = ds.persist()
    cached += c
    if (Trace.enabled) {
      val n = c.count()
      if (counter.nonEmpty) Trace.add(counter, n.toDouble)
      Trace.add("trace.materialized", 1)
    }
    c
  }
}
