package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryDefs.Q
import graft.streaming.EventStreams

class BenchSpec extends AnyFunSuite {
  import SparkTestSession._

  test("the Bench loop fails a throwing query and a stuck stream, and returns") {
    // Bench's per-rep cleanup drops every temp view and resets the
    // terminated-stream registry: run it on a clone of the shared session
    val s = org.apache.spark.sql.graftbridge.Bridge.cloneSession(spark)
    val queries: Seq[(String, Q)] = Seq(
      "q_ok" -> ((s, _) => s.range(3).toDF()),
      "q_throws" -> ((_, _) => throw new IllegalStateException("boom")),
      "q_stuck_stream" -> ((s, _) => {
        val q = s.readStream.format("rate").load()
          .writeStream.format("noop").queryName("stuck_stream").start()
        EventStreams.awaitStream(q, 100L)
        s.range(1).toDF()
      }))
    val (results, failed) = Await.result(Future(
      Bench.timeQueries(s, sf, queries, new ObservedMetrics))(
      ExecutionContext.global), 5.minutes)
    assert(failed == Seq("q_throws", "q_stuck_stream"))
    assert(results.map(_._1) == queries.map(_._1))
    val byName = results.map { case (k, best, reps) => k -> (best, reps) }.toMap
    assert(byName("q_ok")._1 >= 0 && byName("q_ok")._2.size == 3)
    assert(byName("q_throws") == ((-1.0, Seq(-1.0, -1.0, -1.0))))
    assert(byName("q_stuck_stream")._1 == -1.0)
    assert(s.streams.active.isEmpty, "every stuck stream must be stopped")
  }
}
