package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._

/** Pins Materialize's once-semantics under driver-thread concurrency —
  * the property Par.fork-based job overlap (deltaAdmittedOf's corpus ∥
  * shard legs) relies on: N racing callers of one key produce ONE
  * stored artifact that every caller reads identically; a losing
  * duplicate build is wasted-but-identical work, never a second
  * artifact and never an error. */
class MaterializeConcurrencySpec extends SparkSpec {

  test("Materialize.once: concurrent same-key callers share one artifact") {
    // one-frame keys (once) and two-frame keys (onceAll, the PQ-index
    // and corpus-state shape) share one body; race both
    for (frames <- Seq(1, 2)) {
      val builds = new AtomicInteger(0)
      val key = s"conc-spec-$frames-${System.nanoTime()}"
      def stage = {
        builds.incrementAndGet()
        (1 to frames).map(f => spark.range(100)
          .select(col("id"), (col("id") * f * 3).as("v")))
      }
      def read() = (if (frames == 1) Seq(Materialize.once(spark, key)(stage.head))
          else Materialize.onceAll(spark, key)(stage))
        .map(_.collect().sortBy(_.getLong(0)).toSeq)
      val legs = (1 to 4).map(_ => Par.fork(read()))
      val results = legs.map(_.apply())
      // every caller read the same 100 rows per frame, frames in order
      assert(results.forall(r => r.length == frames && r.forall(_.length == 100)))
      assert(results.forall(_ == results.head),
        "racing callers saw different artifacts")
      assert(results.head.zipWithIndex.forall { case (rows, i) =>
        rows.forall(r => r.getLong(1) == r.getLong(0) * (i + 1) * 3) })
      // at least one build ran; re-reading serves the stored artifact
      // without re-entering the builder
      val before = builds.get()
      assert(read().map(_.length) == Seq.fill(frames)(100))
      assert(builds.get() == before, "warm read re-entered the builder")
      // exactly one path is stored for the key: a second reader thread
      // gets byte-identical data (same parquet dir), proven above by
      // row equality; build count may exceed 1 (losers are deleted),
      // but the recorded stage-build time is single-keyed
      assert(Materialize.buildSecs.containsKey(key))
    }
  }

  test("Par.fork: failures propagate on join, not silently") {
    val leg = Par.fork[Int] { throw new IllegalStateException("boom") }
    val e = intercept[IllegalStateException](leg())
    assert(e.getMessage == "boom")
  }
}
