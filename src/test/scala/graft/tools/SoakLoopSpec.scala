package graft.tools

import graft.SparkSpec

/** The soak's one ingest loop, run briefly per kind: every kind ticks,
  * and the novel counts the full soak gates hold at 3 ticks. */
class SoakLoopSpec extends SparkSpec {

  for (kind <- Seq("corpus", "sem", "sub"))
    test(s"runLoop($kind): 3 ticks admit 8 + 2·6 novel docs") {
      val r = Soak.runLoop(spark, kind, tmpDir(s"soak_loop_$kind"), ticks = 3,
        offset = 0L, label = s"soak-$kind")
      assert(r.lat.size === 3 && r.cpu.size === 3)
      // the 2 planted replays per tick after the first are gated out
      assert(r.novel === 8L + 2L * 6L)
    }
}
