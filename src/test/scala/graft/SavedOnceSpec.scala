package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite

/** The process-wide fixture memo. Every case uses its own tag: the memo
  * is shared with every query the same JVM runs.
  */
class SavedOnceSpec extends AnyFunSuite {

  private def onPool[A](n: Int)(body: ExecutionContext => A): A = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally pool.shutdownNow()
  }

  test("8 concurrent first calls run build once") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val names = onPool(8) { implicit ec =>
      val calls = (1 to 8).map { _ =>
        Future {
          start.await()
          SavedOnce("spec_once", "/x/once") { n =>
            builds.incrementAndGet()
            Thread.sleep(200)
            n
          }
        }
      }
      start.countDown()
      Await.result(Future.sequence(calls), 60.seconds)
    }
    assert(builds.get == 1)
    assert(names.distinct == Seq(SavedOnce.name("spec_once", "/x/once")))
  }

  test("a build that resolves another fixture completes") {
    val v = onPool(1) { implicit ec =>
      Await.result(Future {
        SavedOnce("spec_outer", "/x/nest") { _ =>
          SavedOnce("spec_inner", "/x/nest")(_ => 20) + 1
        }
      }, 60.seconds)
    }
    assert(v == 21)
    assert(SavedOnce("spec_inner", "/x/nest")(_ => -1) == 20)
  }

  test("a build that throws is retried by the next call") {
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      SavedOnce("spec_retry", "/x/retry") { _ =>
        builds.incrementAndGet()
        throw new IllegalStateException("simulated failed fit")
      }
    }
    assert(SavedOnce("spec_retry", "/x/retry") { _ =>
      builds.incrementAndGet(); "fitted"
    } == "fitted")
    assert(SavedOnce("spec_retry", "/x/retry")(_ => "refit") == "fitted")
    assert(builds.get == 2)
  }

  test("/x/a-b and /x/a_b get distinct names; names are identifiers") {
    val a = SavedOnce("spec_names", "/x/a-b")(identity)
    val b = SavedOnce("spec_names", "/x/a_b")(identity)
    assert(a != b)
    Seq(a, b).foreach(n =>
      assert(n.matches("graft_spec_names_[A-Za-z0-9_]+")))
    assert(SavedOnce.name("spec_names", "/x/a-b") == a)
  }

  test("scratch builds get fresh dirs under one root") {
    val d1 = SavedOnce.scratch("spec_scratch", "/x/s1")(identity)
    val d2 = SavedOnce.scratch("spec_scratch", "/x/s2")(identity)
    val failed = new AtomicReference[String]()
    intercept[IllegalStateException] {
      SavedOnce.scratch("spec_scratch", "/x/s3") { d =>
        failed.set(d); throw new IllegalStateException("torn write")
      }
    }
    val d3 = SavedOnce.scratch("spec_scratch", "/x/s3")(identity)
    assert(Seq(d1, d2, d3, failed.get).distinct.size == 4)
    assert(Seq(d2, d3, failed.get).map(Paths.get(_).getParent).distinct ==
             Seq(Paths.get(d1).getParent))
    assert(Files.isDirectory(Paths.get(d3)))
  }
}
