package graft

import graft.functions.VectorMetric
import org.scalatest.funsuite.AnyFunSuite

/** SQ8 persisted-lifecycle contracts, the SQ8 rows of the shared
  * flat-tier contracts (see TierRows): the frozen-model append ties
  * with the original build (identical content → identical codes, no
  * retrain), delete rewrites only the affected buckets (untouched
  * partitions byte-identical), the sidecar model round-trips, and the
  * driver key's five-phase table matches the shared tier arithmetic.
  */
class Sq8LifecycleSpec extends AnyFunSuite with TierRows {
  test("frozen-model append ties with the original build; disk query serves it") {
    eachTier("append", Seq(sq8Tier)) { (t, path) =>
      assert(sq8Tier.codec.readSidecars(spark, path)._1.metric == VectorMetric.L2,
        "the default SQ8 tree must persist the L2 metric in _meta")
      appendRow(t, path)
    }
  }

  test("delete rewrites only the affected buckets; read-back shrinks; no-op for missing ids") {
    eachTier("delete", Seq(sq8Tier))(deleteRow)
  }

  test("driver key: the five-phase state table matches the shared tier arithmetic") {
    fivePhaseRow(sq8Tier)
  }
}
