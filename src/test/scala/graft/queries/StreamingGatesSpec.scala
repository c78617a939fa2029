package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The streaming gates' conf seams restore what they set: a later gate
  * on the same session must not inherit a state-store provider that an
  * earlier gate's `graft.stream.stateStore` installed.
  */
class StreamingGatesSpec extends SparkSpec {
  private val provKey = "spark.sql.streaming.stateStore.providerClass"

  test("graft.stream.stateStore is restored after the gate ends") {
    val before = spark.conf.getAll.get(provKey)
    spark.conf.set("graft.stream.stateStore", "rocksdb")
    try {
      val dir = new java.io.File(sf("events")).getParent
      assert(SparkEntry.queries("ev3_stream_window")(spark, dir).count() > 0)
    } finally spark.conf.unset("graft.stream.stateStore")
    assert(spark.conf.getAll.get(provKey) == before)
  }
}
