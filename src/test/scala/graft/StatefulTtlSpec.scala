package graft

/** State-store sizing of the streaming stateful operators: the local
  * partition cap on their session clone and the knob that lifts it.
  */
class StatefulTtlSpec extends SparkSpec {

  test("stream state partitions: the local 8-cap yields to the sizing knob") {
    // the 8-state-partition cap is LOCAL-ONLY tuning (SCALING.md); a
    // deployment that sets spark.graft.stream.statePartitions must get
    // exactly that many state-store instances, uncapped — and the
    // calling session's own parallelism must stay untouched either way
    val base = spark.newSession()
    base.conf.set("spark.sql.shuffle.partitions", "32")
    val path = s"${SparkSpec.sf0001}/events.parquet"
    val capped = graft.ext.EventsStream.readEventsStream(base, path)
    assert(capped.sparkSession.conf.get("spark.sql.shuffle.partitions") == "8")
    base.conf.set("spark.graft.stream.statePartitions", "24")
    val sized = graft.ext.EventsStream.readEventsStream(base, path)
    assert(sized.sparkSession.conf.get("spark.sql.shuffle.partitions") == "24")
    assert(base.conf.get("spark.sql.shuffle.partitions") == "32")
    base.conf.set("spark.graft.stream.statePartitions", "0")
    intercept[IllegalArgumentException] {
      graft.ext.EventsStream.readEventsStream(base, path)
    }
    // a non-numeric value must fail with the SAME intentional message
    // shape, not a raw NumberFormatException from .toInt
    base.conf.set("spark.graft.stream.statePartitions", "auto")
    val e = intercept[IllegalArgumentException] {
      graft.ext.EventsStream.readEventsStream(base, path)
    }
    assert(e.getMessage.contains("spark.graft.stream.statePartitions"))
  }
}
