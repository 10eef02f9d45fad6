package perfbench

import graft.ingest.EditLogDecoder

/** Generator self-test: every segment the catchup generator writes must
  * decode (`EditLogDecoder.decodeSegment`) to exactly the ops that were
  * encoded into it, each with a good CRC, and each segment name must
  * carry its first and last transaction ids. Run with
  * `python3 perfbench/run.py --selftest`; exits 1 on the first failure. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    var segments, ops, failures = 0
    for (seed <- Seq(1L, 2L, 3L)) {
      val j = new Gen.Journal(seed)
      val segs = (0 until 4).map(_ => j.segment(Catchup.SegmentTx)) ++
        (0 until 20).map(_ => j.segment(Catchup.RoundTx))
      segs.foreach { sg =>
        val got = EditLogDecoder.decodeSegment(sg.bytes)
        val want = sg.ops.map(_.copy(crcOk = true))
        segments += 1
        ops += want.size
        if (got != want) {
          failures += 1
          val i = got.zip(want).indexWhere { case (a, b) => a != b }
          println(s"FAIL seed $seed ${sg.name}: ${got.size} ops decoded, ${want.size} encoded" +
            (if (i >= 0) s"; first difference at op $i:\n  got  ${got(i)}\n  want ${want(i)}" else ""))
        }
        if (got.exists(!_.crcOk)) { failures += 1; println(s"FAIL seed $seed ${sg.name}: bad CRC") }
        val named = graft.ingest.EditsFileFinder.parse(sg.name)
        if (!named.exists(s => s.startTx == sg.startTx && s.endTx == sg.endTx)) {
          failures += 1; println(s"FAIL seed $seed ${sg.name}: name does not match tx range")
        }
        if (sg.events.size != sg.ops.size) {
          failures += 1; println(s"FAIL seed $seed ${sg.name}: one event per op expected")
        }
      }
    }
    println(s"selftest: $segments segments, $ops ops, $failures failures")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
