package perfbench

import graft.ingest.EditLogDecoder.{EditBlock, EditOp}
import graft.model.{ChangeEvent, Mode, Op}

/** Seeded input generators. Everything the program sees comes from here,
  * and the same seed always gives the same bytes. */
object Gen {

  /** Zipf(s) sampler over `n` ranks (0 = hottest), by binary search over
    * the cumulative weights. */
  final class Zipf(n: Int, s: Double, rnd: java.util.Random) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      var acc = 0.0
      val c = new Array[Double](n)
      var i = 0
      while (i < n) { acc += w(i); c(i) = acc; i += 1 }
      c.map(_ / acc)
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ── live-tail: JSON-lines event files ─────────────────────────────────

  /** One scheduled event file: its events as JSON lines, the events
    * themselves (for the reference fold) and each event's due time in ms
    * after the schedule start. */
  final case class LiveFile(lines: Array[String], events: Array[ChangeEvent],
      dueMs: Array[Double], publishMs: Double)

  /** Event files for a rate ladder: `rates(i)` events/s during rung `i`,
    * each rung `rungMs` long, one file per `periodMs`. Events in a file
    * are due evenly over its period and the file is published when the
    * period ends. Paths are Zipf over `keys` files. Op mix: mostly
    * appends, add/close turnover, redelivered duplicates (ReSend copies
    * of an earlier event) and a little IgnoreTx/Error. */
  def liveFiles(seed: Long, keys: Int, rates: Seq[Int], rungMs: Seq[Int],
      periodMs: Int, firstTx: Long): Vector[LiveFile] = {
    val rnd = new java.util.Random(seed)
    val zipf = new Zipf(keys, 1.05, rnd)
    var tx = firstTx
    val recent = new Array[ChangeEvent](4096)
    var nRecent = 0
    val out = Vector.newBuilder[LiveFile]
    var t0 = 0.0
    rates.zip(rungMs).foreach { case (rate, len) =>
      val files = len / periodMs
      val perFile = math.max(1, math.round(rate * periodMs / 1000.0).toInt)
      (0 until files).foreach { _ =>
        val evs = new Array[ChangeEvent](perFile)
        val due = new Array[Double](perFile)
        var i = 0
        while (i < perFile) {
          due(i) = t0 + periodMs * (i + 1).toDouble / perFile
          val r = rnd.nextInt(1000)
          evs(i) =
            if (r < 30 && nRecent > 0) // redelivery of an earlier event
              recent(rnd.nextInt(math.min(nRecent, recent.length)))
                .copy(mode = Mode.ReSend)
            else {
              tx += 1
              val path = f"/live/z${zipf.next()}%06d"
              val e =
                if (r < 60) ChangeEvent(tx, Op.AddFile, path)
                else if (r < 120) ChangeEvent(tx, Op.CloseFile, path)
                else if (r < 135) ChangeEvent(tx, Op.IgnoreTx, path)
                else if (r < 136) ChangeEvent(tx, Op.ErrorTx, path)
                else ChangeEvent(tx, Op.AppendFile, path,
                  sizeCents = 100L * (1 + rnd.nextInt(65536)))
              recent(nRecent % recent.length) = e
              nRecent += 1
              e
            }
          i += 1
        }
        val lines = evs.zip(due).map { case (e, d) =>
          s"""{"txId":${e.txId},"op":"${e.op}","path":"${e.path}",""" +
            s""""mode":"${e.mode}","sizeCents":${e.sizeCents},"ts":${d.toLong}}"""
        }
        t0 += periodMs
        out += LiveFile(lines, evs, due, t0)
      }
    }
    out.result()
  }

  // ── catchup: binary edit-log segments (layout -63) ───────────────────

  /** Big-endian writer for the NameNode journal format the decoder
    * reads: `op := opcode:u8 length:i32 txid:i64 body crc32:u32`. */
  final class SegmentWriter {
    private val buf = new java.io.ByteArrayOutputStream(1 << 16)
    private val body = new java.io.ByteArrayOutputStream(256)
    private val bo = new java.io.DataOutputStream(body)
    locally {
      val h = new java.io.DataOutputStream(buf)
      h.writeInt(graft.ingest.EditLogDecoder.LayoutVersion); h.writeInt(0)
    }
    private def str(s: String): Unit = bo.writeUTF(s) // u16 length + UTF-8
    private def text(s: String): Unit = {
      val b = s.getBytes("UTF-8"); vlong(b.length.toLong); bo.write(b)
    }
    /** Hadoop `WritableUtils.writeVLong`. */
    private def vlong(v0: Long): Unit =
      if (v0 >= -112 && v0 <= 127) bo.writeByte(v0.toInt)
      else {
        var v = v0
        var len = -112
        if (v < 0) { v = ~v; len = -120 }
        var t = v
        while (t != 0) { t >>= 8; len -= 1 }
        bo.writeByte(len)
        val n = if (len < -120) -(len + 120) else -(len + 112)
        var i = n
        while (i > 0) { bo.writeByte(((v >> ((i - 1) * 8)) & 0xff).toInt); i -= 1 }
      }

    def op(e: EditOp): Unit = {
      body.reset()
      import graft.ingest.EditLogDecoder._
      e.opCode match {
        case OpAdd | OpClose =>
          bo.writeLong(e.inodeId); str(e.path); bo.writeShort(3)
          bo.writeLong(e.mtime); bo.writeLong(e.mtime); bo.writeLong(e.blockSize)
          bo.writeInt(e.blocks.size)
          e.blocks.foreach { b =>
            bo.writeLong(b.blockId); bo.writeLong(b.numBytes); bo.writeLong(b.genStamp) }
          text("hdfs"); text("supergroup"); bo.writeShort(420)
          if (e.opCode == OpAdd) {
            bo.writeInt(0); vlong(0L) // no ACL entries, no xattrs
            str("DFSClient_bench"); str("127.0.0.1")
            bo.writeByte(if (e.overwrite) 1 else 0)
          }
        case OpDelete => str(e.path); bo.writeLong(e.mtime)
        case OpUpdateBlocks | OpAddBlock =>
          str(e.path); vlong(e.blocks.size.toLong)
          var sz = 0L; var gs = 0L
          e.blocks.foreach { b =>
            bo.writeLong(b.blockId); vlong(b.numBytes - sz); vlong(b.genStamp - gs)
            sz = b.numBytes; gs = b.genStamp }
        case OpAppend =>
          str(e.path); str("DFSClient_bench"); str("127.0.0.1")
          bo.writeByte(if (e.overwrite) 1 else 0)
        case OpTruncate =>
          str(e.path); str("DFSClient_bench"); str("127.0.0.1")
          bo.writeLong(e.newLength); bo.writeLong(e.mtime)
        case OpRename =>
          str(e.path); str(e.dst); bo.writeLong(e.mtime)
          bo.writeInt(e.renameOptions.size)
          e.renameOptions.foreach(o => bo.writeByte(o match {
            case "OVERWRITE" => 1; case "TO_TRASH" => 2; case _ => 0 }))
        case _ => () // segment markers carry no body
      }
      bo.flush()
      val b = body.toByteArray
      val rec = new java.io.ByteArrayOutputStream(b.length + 17)
      val ro = new java.io.DataOutputStream(rec)
      ro.writeByte(e.opCode); ro.writeInt(8 + b.length + 4)
      ro.writeLong(e.txId); ro.write(b); ro.flush()
      val crc = new java.util.zip.CRC32()
      crc.update(rec.toByteArray)
      ro.writeInt(crc.getValue.toInt); ro.flush()
      rec.writeTo(buf)
    }

    def bytes: Array[Byte] = buf.toByteArray
  }

  /** A generated segment: its file name, bytes, the journal ops encoded
    * into it and the typed events they must decode to. */
  final case class Segment(name: String, bytes: Array[Byte], ops: Seq[EditOp],
      events: Seq[ChangeEvent]) {
    def startTx: Long = ops.head.txId
    def endTx: Long = ops.last.txId
  }

  private final case class GFile(path: String, inode: Long,
      var blocks: Vector[EditBlock], renamed: Boolean = false)

  /** Journal generator: a namespace of files under `/wh/...` driven
    * through create → multi-block writes → close, later appends,
    * truncates, renames and deletes. Each segment is framed by
    * OP_START_LOG_SEGMENT / OP_END_LOG_SEGMENT and named
    * `edits_<start>-<end>` like the NameNode's finalized segments. */
  final class Journal(seed: Long) {
    private val rnd = new java.util.Random(seed)
    private var tx = 0L
    private var nextInode = 16386L
    private var nextBlock = 1073741825L
    private var genStamp = 1001L
    private val live = scala.collection.mutable.ArrayBuffer.empty[GFile]
    private var created = 0L
    private val BlockSize = 134217728L

    private def ts: Long = 1700000000000L + tx * 7

    private def pick(): GFile = live(rnd.nextInt(live.size))

    /** Drop `f` from the live set (swap with the last entry: O(1)). */
    private def drop(f: GFile): Unit = {
      val i = live.indexWhere(_ eq f)
      live(i) = live.last
      live.remove(live.size - 1)
    }

    private def newPath(): String = {
      created += 1
      f"/wh/d${rnd.nextInt(16)}%02d/t${rnd.nextInt(64)}%02d/part-$created%07d.dat"
    }

    private def bump(): Long = { genStamp += 1; genStamp }

    /** One file-level action; returns its (op, event) pairs. */
    private def action(): Seq[(EditOp, ChangeEvent)] = {
      import graft.ingest.EditLogDecoder._
      val r = rnd.nextInt(100)
      def nt(): Long = { tx += 1; tx }
      if (live.size < 64 || r < 30) { // create, write 1-3 blocks, close
        val f = GFile(newPath(), nextInode, Vector.empty)
        nextInode += 1
        live += f
        val out = Seq.newBuilder[(EditOp, ChangeEvent)]
        val t0 = nt()
        out += EditOp(t0, OpAdd, "OP_ADD", path = f.path, inodeId = f.inode,
          mtime = ts, blockSize = BlockSize) ->
          ChangeEvent(t0, Op.AddFile, f.path, Mode.New, ts = ts)
        out ++= writeBlocks(f, 1 + rnd.nextInt(3))
        out += close(f)
        out.result()
      } else if (r < 55) { // append: reopen, grow or add a block
        val f = pick()
        val t = nt()
        if (f.renamed) // the state of a rename target keeps no block chain
          Seq(truncate(f, t))
        else {
          val newBlock = rnd.nextBoolean() || f.blocks.isEmpty
          (EditOp(t, OpAppend, "OP_APPEND", path = f.path, overwrite = newBlock) ->
            ChangeEvent(t, Op.AppendFile, f.path, Mode.New)) +:
            ((if (newBlock) writeBlocks(f, 1) else grow(f)) :+ close(f))
        }
      } else if (r < 70) {
        val f = pick()
        Seq(truncate(f, nt()))
      } else if (r < 85) { // rename to a fresh path
        val f = pick()
        val dst = newPath()
        val t = nt()
        val opts = if (rnd.nextInt(4) == 0) Seq("OVERWRITE") else Seq("NONE")
        val e = EditOp(t, OpRename, "OP_RENAME", path = f.path, dst = dst,
          mtime = ts, renameOptions = opts, overwrite = opts.contains("OVERWRITE"))
        drop(f)
        live += f.copy(path = dst, renamed = true)
        Seq(e -> ChangeEvent(t, Op.RenameFile, dst, Mode.New, ts = ts,
          srcPath = f.path))
      } else { // delete
        val f = pick()
        val t = nt()
        drop(f)
        Seq(EditOp(t, OpDelete, "OP_DELETE", path = f.path, mtime = ts) ->
          ChangeEvent(t, Op.DeleteFile, f.path, Mode.New, ts = ts))
      }
    }

    /** Truncate to a shorter length: blocks that start at or past the new
      * length drop off, the boundary block shrinks. */
    private def truncate(f: GFile, t: Long): (EditOp, ChangeEvent) = {
      import graft.ingest.EditLogDecoder._
      val len = f.blocks.map(_.numBytes).sum
      val newLen = if (len == 0) 0L else (rnd.nextDouble() * len).toLong
      var cum = 0L
      f.blocks = f.blocks.flatMap { b =>
        val kept = if (cum < newLen) Some(b.copy(numBytes = math.min(b.numBytes, newLen - cum))) else None
        cum += b.numBytes
        kept
      }
      EditOp(t, OpTruncate, "OP_TRUNCATE", path = f.path, newLength = newLen,
        mtime = ts) ->
        ChangeEvent(t, Op.TruncateBlock, f.path, Mode.New, ts = ts,
          startOffset = 0L, endOffset = newLen)
    }

    /** ADD_BLOCK per new block (its compact array is [penultimate, new],
      * new block empty), then an UPDATE_BLOCKS with the grown sizes. */
    private def writeBlocks(f: GFile, n: Int): Seq[(EditOp, ChangeEvent)] = {
      import graft.ingest.EditLogDecoder._
      (0 until n).flatMap { _ =>
        val nb = EditBlock(nextBlock, 0L, bump())
        nextBlock += 1
        val prev = f.blocks.lastOption
        f.blocks = f.blocks :+ nb
        tx += 1
        val arr = prev.toSeq :+ nb
        (EditOp(tx, OpAddBlock, "OP_ADD_BLOCK", path = f.path, blocks = arr) ->
          ChangeEvent(tx, Op.AddBlock, f.path, Mode.New, blockId = nb.blockId,
            startOffset = 0L, endOffset = 0L,
            prevBlockId = prev.map(_.blockId).getOrElse(-1L))) +: grow(f)
      }
    }

    private def grow(f: GFile): Seq[(EditOp, ChangeEvent)] = {
      import graft.ingest.EditLogDecoder._
      if (f.blocks.isEmpty) Nil
      else {
        val last = f.blocks.last
        f.blocks = f.blocks.init :+ last.copy(
          numBytes = last.numBytes + 1 + rnd.nextInt(1 << 20), genStamp = bump())
        tx += 1
        val lb = f.blocks.last
        Seq(EditOp(tx, OpUpdateBlocks, "OP_UPDATE_BLOCKS", path = f.path,
          blocks = f.blocks) ->
          ChangeEvent(tx, Op.UpdateBlocks, f.path, Mode.New, blockId = lb.blockId,
            startOffset = 0L, endOffset = lb.numBytes))
      }
    }

    private def close(f: GFile): (EditOp, ChangeEvent) = {
      import graft.ingest.EditLogDecoder._
      tx += 1
      val lb = f.blocks.lastOption
      EditOp(tx, OpClose, "OP_CLOSE", path = f.path, inodeId = f.inode,
        mtime = ts, blockSize = BlockSize, blocks = f.blocks) ->
        ChangeEvent(tx, Op.CloseFile, f.path, Mode.New,
          sizeCents = f.blocks.map(_.numBytes).sum * 100, ts = ts,
          blockId = lb.map(_.blockId).getOrElse(-1L), startOffset = 0L,
          endOffset = lb.map(_.numBytes).getOrElse(0L))
    }

    /** Next segment holding about `txs` transactions. */
    def segment(txs: Int): Segment = {
      import graft.ingest.EditLogDecoder._
      val w = new SegmentWriter
      val ops = Vector.newBuilder[EditOp]
      val evs = Vector.newBuilder[ChangeEvent]
      def marker(code: Int, name: String): Unit = {
        tx += 1
        val e = EditOp(tx, code, name)
        w.op(e); ops += e
        evs += ChangeEvent(tx, Op.IgnoreTx, name, Mode.New)
      }
      marker(OpStartLogSegment, "OP_START_LOG_SEGMENT")
      val stop = tx + txs
      while (tx < stop) action().foreach { case (o, e) => w.op(o); ops += o; evs += e }
      marker(OpEndLogSegment, "OP_END_LOG_SEGMENT")
      val os = ops.result()
      Segment(f"edits_${os.head.txId}%019d-${os.last.txId}%019d", w.bytes, os,
        evs.result())
    }
  }

  // ── snapshot-serve: state, filter and block-byte fixtures ─────────────

  final case class SFile(path: String, blocks: Vector[Long], deleted: Boolean)

  /** A warehouse namespace `/warehouse/d<D>/t<TT>/part-<N>.dat` plus
    * ignored temp/staging paths; every file is added, written in 1-3
    * blocks and closed, and one in twelve is then deleted. Returns the
    * files and the events that build them. */
  def warehouse(seed: Long, files: Int): (Vector[SFile], Vector[ChangeEvent]) = {
    val rnd = new java.util.Random(seed)
    var tx = 0L
    var block = 5000000000L
    val fs = Vector.newBuilder[SFile]
    val evs = Vector.newBuilder[ChangeEvent]
    (0 until files).foreach { i =>
      val path = rnd.nextInt(40) match {
        case 0 => f"/tmp/warehouse/t${rnd.nextInt(100)}%02d/part-$i%07d.dat"
        case 1 => f"/warehouse/d${rnd.nextInt(10)}/t${rnd.nextInt(100)}%02d/part-$i%07d.dat._COPYING_"
        case _ => f"/warehouse/d${rnd.nextInt(10)}/t${rnd.nextInt(100)}%02d/part-$i%07d.dat"
      }
      tx += 1
      evs += ChangeEvent(tx, Op.AddFile, path)
      var prev = -1L
      val bs = (0 until 1 + rnd.nextInt(3)).map { _ =>
        tx += 1; block += 1
        evs += ChangeEvent(tx, Op.AddBlock, path, blockId = block,
          startOffset = 0L, endOffset = 0L, prevBlockId = prev)
        prev = block
        block
      }.toVector
      tx += 1
      evs += ChangeEvent(tx, Op.CloseFile, path,
        sizeCents = 100L * (1 + rnd.nextInt(1 << 20)))
      val del = rnd.nextInt(12) == 0
      if (del) { tx += 1; evs += ChangeEvent(tx, Op.DeleteFile, path) }
      fs += SFile(path, bs, del)
    }
    (fs.result(), evs.result())
  }

  /** Registered filters: ten domains × five entities; entity `k` of
    * domain `d` takes tables t<k>0..t<k>9 under `/warehouse/d<d>`, so
    * half of the tables match. */
  final case class FilterSpec(domain: String, entity: String, dir: String,
      regex: String, priority: Int)

  def filters: Vector[FilterSpec] =
    (for (d <- 0 until 10; k <- 0 until 5)
      yield FilterSpec(s"dom$d", s"ent$k", s"/warehouse/d$d",
        s"^t$k[0-9]/part-[0-9]+\\.dat", d * 5 + k)).toVector

  /** Block deltas for the change-set: each block gets 1-6 ordered deltas,
    * mostly appends that extend the range, sometimes a truncate and rarely
    * a delete; offsets stay inside `blockLen`. */
  final case class BDelta(blockId: Long, txId: Long, start: Long, end: Long,
      op: String)

  def blockDeltas(seed: Long, blocks: Seq[Long], blockLen: Int): Vector[BDelta] = {
    val rnd = new java.util.Random(seed ^ 0x5DEECE66DL)
    var tx = 1000000L
    blocks.toVector.flatMap { b =>
      var end = rnd.nextInt(blockLen / 4).toLong
      (0 until 1 + rnd.nextInt(6)).map { _ =>
        tx += 1
        val r = rnd.nextInt(100)
        if (r < 3) BDelta(b, tx, 0L, 0L, "delete")
        else if (r < 18) {
          end = rnd.nextInt(math.max(1, end.toInt + 1)).toLong
          BDelta(b, tx, rnd.nextInt(math.max(1, end.toInt + 1)).toLong, end, "truncate")
        } else {
          val s = rnd.nextInt(math.max(1, end.toInt + 1)).toLong
          end = math.min(blockLen - 1L, end + rnd.nextInt(blockLen / 3))
          BDelta(b, tx, s, end, "append")
        }
      }
    }
  }

  def blockBytes(seed: Long, blockId: Long, len: Int): Array[Byte] = {
    val b = new Array[Byte](len)
    new java.util.Random(seed * 31 + blockId).nextBytes(b)
    b
  }
}
