package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TempDirs

/** The (kind, source dir) → path artifact memo. The memo is JVM-wide, so
  * every test keys its own fresh source dir. */
class TempDirsSpec extends AnyFunSuite {
  private def freshDir() = s"/spec/${java.util.UUID.randomUUID()}"

  private def withPool[A](n: Int)(f: ExecutionContext => A): A = {
    val pool = Executors.newFixedThreadPool(n)
    try f(ExecutionContext.fromExecutor(pool))
    finally pool.shutdownNow()
  }

  test("two threads on a fresh key build once and get the same path") {
    val d = freshDir()
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val paths = withPool(2) { implicit ec =>
      val calls = Seq.fill(2)(Future {
        start.await()
        TempDirs.artifact("spec", d) { _ =>
          builds.incrementAndGet(); Thread.sleep(200)
        }
      })
      start.countDown()
      Await.result(Future.sequence(calls), 30.seconds)
    }
    assert(builds.get === 1)
    assert(paths.distinct.size === 1)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(paths.head)))
  }

  test("a build that needs another kind's artifact completes") {
    val d = freshDir()
    // same thread (pairs read bands) and another thread the build waits
    // on (the CDC bootstrap waits on the merge pool): a shared monitor
    // held by the outer build would deadlock the second
    val inner = TempDirs.artifact("spec_inner", d)(_ => ())
    val outer = withPool(1) { ec =>
      TempDirs.artifact("spec_outer", d) { _ =>
        assert(TempDirs.artifact("spec_inner", d)(_ => ()) === inner)
        val other = Future(TempDirs.artifact("spec_other", d)(_ => ()))(ec)
        Await.result(other, 30.seconds)
      }
    }
    assert(outer !== inner)
    assert(TempDirs.artifact("spec_outer", d)(_ => fail("rebuilt")) === outer)
  }

  test("different source dirs get different paths; a failed build retries") {
    val (d1, d2) = (freshDir(), freshDir())
    val p1 = TempDirs.artifact("spec", d1)(_ => ())
    val p2 = TempDirs.artifact("spec", d2)(_ => ())
    assert(p1 !== p2)
    val d3 = freshDir()
    intercept[IllegalStateException](
      TempDirs.artifact("spec", d3)(_ => throw new IllegalStateException))
    val builds = new AtomicInteger
    TempDirs.artifact("spec", d3)(_ => builds.incrementAndGet())
    assert(builds.get === 1)
  }
}
