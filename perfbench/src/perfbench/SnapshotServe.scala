package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import graft.api.{Graft, GraftRest}
import graft.changeset.{ChangeSetAssembler, RangeMerge}
import graft.filters.DomainFilters
import graft.model.{ChangeEvent, Op}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `snapshot-serve`: closed loop, one HTTP client. Set-up persists a state
  * table and registers the filters over `PUT /snapshot/filters/add/...`.
  * Timed: `POST /admin/snapshot/start` and `POST /snapshot/run` (routing),
  * the change-set of the matched files' blocks (`RangeMerge.agg` →
  * `ChangeSetAssembler.sliceChangeSets` over the block bytes read with
  * `binaryFile` → the committed `BlockFileSink`), then `POST
  * /snapshot/done` callbacks, each sent after the previous reply. A
  * quarter of the called files advance past the snapshot first, so the
  * callback emits backlog for them. */
object SnapshotServe {

  val NFiles = 1000
  val BlockLen = 2048
  /** Callbacks always made. The registry compacts on every 8th callback,
    * so 12 callbacks cross it exactly once. The callback tail is the
    * slowest of these first callbacks: a fixed window that always holds
    * the one compacting callback, whatever the run length. */
  val MinCallbacks = 12
  val AdvanceEvery = 4
  /** Timed bootstraps per run, each from a fresh `/admin/snapshot/start`;
    * the throughput is their median, as one bootstrap is a few seconds of
    * mostly per-job fixed cost. Two, not more, to keep a run under a
    * minute. */
  val BootstrapRuns = 2

  def run(spark: SparkSession, args: Main.Args, work: Path, clock: Main.Clock,
      actions: Actions): Main.Result = {
    implicit val s: SparkSession = spark
    import spark.implicits._

    // ── fixtures ──
    val ((files, events), genMs) = LiveTail.timed(Gen.warehouse(args.seed, NFiles))
    val filters = Gen.filters
    val expectedState = Oracle.replay(events)
    val live = files.filterNot(_.deleted)
    val matched = live.filter(f => routes(f.path, filters))
    clock.mark("generate")
    val blocksDir = Files.createDirectories(work.resolve("blocks"))
    matched.foreach(_.blocks.foreach { b =>
      Files.write(blocksDir.resolve(s"$b.bin"), Gen.blockBytes(args.seed, b, BlockLen))
    })
    val blockMeta = matched.flatMap(f => f.blocks.zipWithIndex.map { case (b, i) =>
      (f.path, b, if (i == 0) -1L else f.blocks(i - 1)) })
    val deltas = Gen.blockDeltas(args.seed, blockMeta.map(_._2), BlockLen)
    clock.mark("block files")

    val graft = new Graft(spark, work.resolve("state").toString)
    Trace.off(graft.replay(events.toDS()))
    val rest = new GraftRest(graft, 0).start()
    val http = new Http(rest.boundPort)
    try {
      val filterPuts = Trace.off(filters.map(f => http.put(s"/snapshot/filters/add/${f.domain}",
        s"""{"entity":"${f.entity}","dir":"${f.dir}","regex":"${json(f.regex)}","priority":${f.priority}}""")._1))
      clock.mark("state+filters")
      // warm-up: one routing pass, a change-set of a few blocks into a
      // scratch dir, and a service epoch with two callbacks on files outside
      // the matched set (class loading, JIT, codegen, file listing); the
      // timed /admin/snapshot/start below rebuilds the registry from scratch
      Trace.off {
        http.post("/snapshot/run", "")
        val few = blockMeta.take(8)
        changeSet(spark, few, deltas.filter(d => few.exists(_._2 == d.blockId)), blocksDir,
          work.resolve("warm-replicas"))
        http.post("/admin/snapshot/start", "")
        live.filterNot(f => routes(f.path, filters)).take(2).foreach(f =>
          http.post("/snapshot/done",
            s"""{"hdfsPath":"${json(f.path)}","transactionId":${expectedState(f.path).lastTxId}}"""))
      }
      clock.markSetupDone()

      // ── timed: bootstraps, each into its own replica dir; the last one's
      // registry takes the callbacks ──
      val timedStart = System.nanoTime()
      def bootstrap(out: Path): Boot = {
        val started = http.post("/admin/snapshot/start", "")._1
        val t0 = System.nanoTime()
        val ran = http.post("/snapshot/run", "")
        val count = """"count":(\d+)""".r.findFirstMatchIn(ran._2).map(_.group(1).toLong).getOrElse(-1L)
        changeSet(spark, blockMeta, deltas, blocksDir, out)
        Boot(started, ran._1, count, out, Main.ms(System.nanoTime() - t0))
      }
      val boots = (1 until BootstrapRuns).map(k => bootstrap(work.resolve(s"replicas-$k"))) :+
        bootstrap(work.resolve("replicas"))
      val bootMs = Main.pct(boots.map(_.ms).sorted.toArray, 50)

      if (Trace.enabled) Trace.span("filters.route") {
        val states = graft.stateTable.toDF()
        val routed = DomainFilters.route(states, graft.filters)
          .groupBy(col("entity") =!= "IgnoreTx").count().collect()
        val hit = routed.filter(_.getBoolean(0)).map(_.getLong(1)).sum
        val n = states.count().toDouble
        Trace.set("filters.rows_in", n)
        Trace.set("filters.rules", graft.filters.size.toDouble)
        Trace.set("filters.matched_ratio", hit / n)
      }

      // ── advance a quarter of the callback targets past the snapshot ──
      val rnd = new java.util.Random(args.seed)
      val targets = scala.util.Random.javaRandomToRandom(rnd).shuffle(matched.map(_.path))
      val advanced = targets.indices.filter(_ % AdvanceEvery == 0).map(targets).toSet
      val maxTx = events.map(_.txId).max
      graft.replayIncrement(advanced.toSeq.sorted.zipWithIndex.map { case (p, i) =>
        ChangeEvent(maxTx + 1 + i, Op.AppendFile, p, sizeCents = 100L) }.toDS())

      // ── timed: callbacks, closed loop ──
      val stateDir = work.resolve("state")
      val rtt = Vector.newBuilder[Double]
      val replies = Vector.newBuilder[(String, Int, String)]
      var versions, compactions = 0L
      var compactingCallbacks = Vector.empty[Int]
      val deadline = timedStart + args.seconds * 1000000000L
      var i = 0
      while (i < targets.size && (i < MinCallbacks || System.nanoTime() < deadline)) {
        val p = targets(i)
        val tx = expectedState(p).lastTxId
        val vBefore = if (Trace.enabled) registryVersions(stateDir) else 0
        val c0 = System.nanoTime()
        val (code, body) = Trace.span("api.http")(http.post("/snapshot/done",
          s"""{"hdfsPath":"${json(p)}","transactionId":$tx}"""))
        rtt += Main.ms(System.nanoTime() - c0)
        replies += ((p, code, body))
        if (Trace.enabled) {
          val vAfter = registryVersions(stateDir)
          versions += vBefore
          if (vAfter < vBefore) { compactions += 1; compactingCallbacks :+= i + 1 }
        }
        i += 1
      }
      val inOrder = rtt.result()
      val cb = inOrder.toArray.sorted
      val rs = replies.result()

      // ── correctness ──
      val runOk = filterPuts.forall(_ == 200) &&
        boots.forall(b => b.started == 200 && b.ran == 200 && b.count == matched.size)
      val replicaMismatch = boots.map(b => checkReplicas(b.out, blockMeta, deltas, args.seed)).sum
      val badReplies = rs.count { case (p, code, body) =>
        code != 200 || !body.contains("\"snapshotReady\":true") ||
          body.contains("\"backlogEmitted\":true") != advanced.contains(p)
      }
      val called = rs.map(_._1).toSet
      val registry = graft.replicaTable.filter(col("path").isin(called.toSeq: _*))
        .collect().map(r => r.path -> r.snapshotReady).toMap
      val registryOk = called.forall(p => registry.getOrElse(p, false))

      val layers =
        if (!Trace.enabled) Map.empty[String, Double]
        else {
          Thread.sleep(300) // listener bus delivers action callbacks asynchronously
          val httpSpans = Trace.all.filter(_.name == "api.http")
          Map(
            "api.callback_ms" -> httpSpans.map(sp => actions.within(sp.startNs, sp.endNs).map(_.ms).sum).sum,
            "api.registry_versions" -> versions.toDouble / math.max(1, rs.size),
            "api.registry_compactions" -> compactions.toDouble,
            "api.backlog_emitted" -> rs.count(_._3.contains("\"backlogEmitted\":true")).toDouble,
            "changeset.bytes_written" -> Main.dirBytes(work.resolve("replicas")).toDouble,
            "changeset.files_written" -> Main.dirFiles(work.resolve("replicas"), ".blk").toDouble,
            "load.gen_ms" -> genMs)
        }
      val notes = Seq(
        s"bootstrap: ${matched.size} matched of ${live.size} live files (run counts ${boots.map(_.count).mkString("/")}), " +
          s"${blockMeta.size} blocks, " + boots.map(b => f"${b.ms}%.0f").mkString("/") + " ms",
        f"callbacks: ${rs.size}, backlog emitted for ${advanced.count(called)}; tail = slowest of the first $MinCallbacks" +
          (if (Trace.enabled) s"; compacting callback(s): ${compactingCallbacks.mkString(", ")}" else ""),
        s"replica mismatches: $replicaMismatch; bad replies: $badReplies")
      Main.Result(
        attempted = BootstrapRuns * (2L + blockMeta.size) + rs.size,
        failed = (if (runOk) 0 else 1) + replicaMismatch + badReplies + (if (registryOk) 0 else 1),
        checks = Seq("filters-200-run-count-equals-matched" -> runOk,
          "replica-bytes-equal-merged-ranges" -> (replicaMismatch == 0),
          "callbacks-200-ready" -> (badReplies == 0),
          "registry-ready" -> registryOk),
        metrics = Seq(
          Main.Metric("latency_p50_ms", "callback_p50_ms", Main.pct(cb, 50), "ms"),
          Main.Metric("latency_tail_ms", "callback_tail_ms", inOrder.take(MinCallbacks).max, "ms"),
          Main.Metric("throughput_per_s", "bootstrap_files_per_s", matched.size / (bootMs / 1000.0), "1/s")),
        notes = notes, layers = layers)
    } finally rest.stop()
  }

  final case class Boot(started: Int, ran: Int, count: Long, out: Path, ms: Double)

  /** The change-set: merge each block's deltas, slice the merged range
    * out of the block bytes, write replicas through the committed sink.
    * The merged ranges and the block list are broadcast into the join with
    * the block bytes and every stage's output is cached, in both modes, so
    * traced and untraced runs execute the same plan; traced runs fill each
    * cache inside its span. */
  def changeSet(spark: SparkSession, blockMeta: Seq[(String, Long, Long)],
      deltas: Seq[Gen.BDelta], blocksDir: Path, out: Path): Unit = {
    import spark.implicits._
    val merged = Trace.span("changeset.merge") {
      val ds = deltas.map(d => RangeMerge.Delta(d.blockId, d.txId, d.start, d.end, d.op)).toDS()
      val m = ds.groupByKey(_.blockId).agg(RangeMerge.agg.toColumn)
        .map { case (b, r) => (b, r.startOffset, r.endOffset, r.deleted) }
        .toDF("blockId", "startOffset", "endOffset", "deleted")
        .persist()
      if (Trace.enabled) {
        Trace.set("changeset.deltas_in", deltas.size.toDouble)
        Trace.set("changeset.blocks_out", m.count().toDouble)
        Trace.add("trace.materialized", 1)
      }
      m
    }
    val sliced = Trace.span("changeset.slice") {
      val content = spark.read.format("binaryFile").load(blocksDir.toString)
        .select(regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long").as("blockId"),
          col("content"))
      val meta = blockMeta.toDF("path", "blockId", "prevBlockId")
      val sl = ChangeSetAssembler.sliceChangeSets(
        content.join(broadcast(meta.join(broadcast(merged), "blockId")), "blockId")).persist()
      if (Trace.enabled) { sl.count(); Trace.add("trace.materialized", 1) }
      sl
    }
    Trace.span("changeset.write") {
      sliced.select(col("blockId").as("block_id"), col("prevBlockId").as("prev_block_id"),
        col("delta").as("data"))
        .write.format(classOf[graft.sources.BlockFileSink].getName).mode("append")
        .save(out.toString)
    }
    merged.unpersist()
    sliced.unpersist()
  }

  /** Expected replica bytes per block (a plain ordered fold of the
    * documented merge rules) against the `.blk` files on disk; returns the
    * number of blocks that differ or are missing. */
  def checkReplicas(dir: Path, blockMeta: Seq[(String, Long, Long)],
      deltas: Seq[Gen.BDelta], seed: Long): Long = {
    val byBlock = deltas.groupBy(_.blockId)
    blockMeta.count { case (_, b, prev) =>
      var start = Long.MaxValue
      var end = Long.MinValue
      var deleted = false
      byBlock(b).sortBy(_.txId).foreach { d =>
        if (!deleted) d.op match {
          case "delete" => deleted = true
          case "truncate" => start = math.min(start, d.start); end = d.end
          case _ => start = math.min(start, d.start); end = math.max(end, d.end)
        }
      }
      val bytes = Gen.blockBytes(seed, b, BlockLen)
      val expected =
        if (deleted) Array.emptyByteArray
        else {
          val s = math.max(0L, start).toInt
          val e = math.min(bytes.length.toLong, end + 1).toInt
          if (e > s) java.util.Arrays.copyOfRange(bytes, s, e) else Array.emptyByteArray
        }
      val f = dir.resolve(ChangeSetAssembler.replicaFileName(b, prev))
      !Files.exists(f) || !java.util.Arrays.equals(Files.readAllBytes(f), expected)
    }.toLong
  }

  /** Routing as the generator defines it, with `java.util.regex`: the
    * global ignore pattern drops a path; otherwise the path must start
    * with a filter's dir and the remainder (one leading '/' stripped) must
    * contain a match of its regex. */
  def routes(path: String, fs: Seq[Gen.FilterSpec]): Boolean =
    !java.util.regex.Pattern.compile(DomainFilters.IgnoreRegex).matcher(path).find() &&
      fs.exists { f =>
        path.startsWith(f.dir) && {
          val rest = path.substring(f.dir.length)
          java.util.regex.Pattern.compile(f.regex)
            .matcher(if (rest.startsWith("/")) rest.substring(1) else rest).find()
        }
      }

  private def registryVersions(stateDir: Path): Int =
    Main.listNames(stateDir).count(_.startsWith("replicas_v"))

  private def json(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** The one HTTP/1.1 client connection (requests are sequential, so the
    * client keeps reusing it). */
  final class Http(port: Int) {
    private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private def send(method: String, path: String, body: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    def put(path: String, body: String): (Int, String) = send("PUT", path, body)
    def post(path: String, body: String): (Int, String) = send("POST", path, body)
  }
}
