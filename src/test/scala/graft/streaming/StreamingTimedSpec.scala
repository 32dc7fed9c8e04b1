package graft.streaming

import graft.SparkSpec

/** Every bench-timed streaming form runs end to end at sf0.001 and serves
  * at least one row. These are the bodies Bench times, built on the shared
  * fold runner and split stager; the contract forms check their results.
  */
class StreamingTimedSpec extends SparkSpec {

  StreamingQueries.timed.keys.toSeq.sorted.foreach { name =>
    test(s"timed $name runs its fold and serves at least one row") {
      val n = StreamingQueries.timed(name)(spark, sfDir).count()
      assert(n >= 1L, s"$name served $n rows")
    }
  }
}
