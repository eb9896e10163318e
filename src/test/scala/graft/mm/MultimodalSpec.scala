package graft.mm

import graft.SparkSuite

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq((1L, "abcdefgh"), (2L, "xy"), (3L, "")).toDF("id", "payload")

  test("asMediaTable: binary column + typed metadata") {
    val m = Multimodal.asMediaTable(docs, "id", "payload", "text/plain")
    assert(m.schema("media").dataType.typeName == "binary")
    val meta = m.select($"media_id", $"meta.mime", $"meta.n_bytes")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(meta.toSeq == Seq((1L, "text/plain", 8), (2L, "text/plain", 2),
      (3L, "text/plain", 0)))
  }

  test("frame sampling: every stride-th byte, short media empty") {
    val m = Multimodal.asMediaTable(docs, "id", "payload", "text/plain")
    val fr = Multimodal.frameValues(m, stride = 3)
      .select($"media_id", $"frame_idx", $"frame_off", $"frame_val")
      .as[(Long, Int, Int, Int)].collect().sortBy(r => (r._1, r._2))
    // media 1 "abcdefgh" (8 bytes, stride 3 -> offsets 0,3): 'a','d'
    assert(fr.filter(_._1 == 1L).toSeq ==
      Seq((1L, 0, 0, 'a'.toInt), (1L, 1, 3, 'd'.toInt)))
    // media 2 "xy" (2 bytes): 0 full strides -> no frames; media 3 empty
    assert(!fr.exists(_._1 == 2L) || fr.filter(_._1 == 2L).isEmpty)
    assert(!fr.exists(_._1 == 3L))
  }
}
