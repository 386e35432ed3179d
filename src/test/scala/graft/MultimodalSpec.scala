package graft

import graft.engine.{Multimodal, Tables}

/** The media table's shape: an opaque binary payload next to typed
  * metadata, the frame q_media_meta and q_frame_sample plan from. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media schema: opaque binary payload + typed metadata") {
    val df = Multimodal.mediaFromDocuments(Tables.t(spark, sf, "documents"))
    assert(df.schema("payload").dataType.typeName == "binary")
    assert(df.schema("kind").dataType.typeName == "string")
    val kinds = df.select("kind").distinct().as[String].collect().toSet
    assert(kinds == Set("image", "audio", "video"))
  }
}
