package graft

import graft.operators.{Analytics, Ivf}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("sketch aggregates track the exact answers within their error bounds") {
    val approx = Analytics.eventsSketch(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (u, p50, p95)) =>
      val (au, ap50, ap95) = approx(k)
      // HLL++ at rsd=0.02: allow 3 sigma
      assert(math.abs(au - u).toDouble / u <= 0.06, s"$k distinct: $au vs $u")
      // GK quantiles with accuracy 10000 are near-exact at this size;
      // allow a loose relative band (quantile of a continuous-ish value)
      assert(math.abs(ap50 - p50) / math.max(math.abs(p50), 1e-9) <= 0.05,
        s"$k p50: $ap50 vs $p50")
      assert(math.abs(ap95 - p95) / math.max(math.abs(p95), 1e-9) <= 0.05,
        s"$k p95: $ap95 vs $p95")
    }
  }

  test("concurrent queries over the memoized index are consistent") {
    // the batch analog of the reference's RW-lock surface: concurrent
    // readers share one immutable built index; results must be
    // identical and the memo must not build twice
    Memo.invalidate(sf)
    val runs = (1 to 4).map { _ =>
      Future(Ivf.ivfQuery(spark, sf, nprobeOpt = Some(Int.MaxValue))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq)
    }
    val results = Await.result(Future.sequence(runs), 5.minutes)
    assert(results.toSet.size == 1, "concurrent readers saw different indexes")
  }
}
