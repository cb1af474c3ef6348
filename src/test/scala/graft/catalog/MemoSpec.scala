package graft.catalog

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

class MemoSpec extends AnyFunSuite {

  test("8 concurrent first callers run the body once and share its value") {
    val memo = new Memo[String, Int]
    val runs = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val callers = (1 to 8).map { _ =>
        Future {
          start.await()
          memo("dir") {
            Thread.sleep(200)
            runs.incrementAndGet()
          }
        }
      }
      start.countDown()
      val values = Await.result(Future.sequence(callers), 30.seconds)
      assert(runs.get == 1)
      assert(values.toSet == Set(1))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a body may resolve another key of the same memo") {
    val memo = new Memo[String, Int]
    assert(memo("g1")(memo("edges")(20) + 1) == 21)
    assert(memo("edges")(99) == 20)
  }

  test("a throwing body is not cached: the next call builds again") {
    val memo = new Memo[String, Int]
    val runs = new AtomicInteger
    val e = intercept[IllegalStateException](memo("v3") {
      runs.incrementAndGet()
      throw new IllegalStateException("training failed")
    })
    assert(e.getMessage == "training failed")
    assert(memo("v3") { runs.incrementAndGet(); 7 } == 7)
    assert(runs.get == 2)
    assert(memo("v3")(8) == 7)
  }
}
