package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The registry contract every artifact site relies on: one build per
  * key however many callers race it, builds outside any lock (so keys
  * do not block each other and builds may nest), no entry after a
  * failed build, one entry per (kind, key) across fingerprints, and a
  * rebuild when a hit fails its validity check. Each test uses its own
  * kind, so the JVM-wide registry's other entries do not interfere. */
class ArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val pool = Executors.newFixedThreadPool(8)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  private def await[T](f: Future[T]): T = Await.result(f, 30.seconds)

  test("racing first calls on one key build once") {
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val calls = (1 to 8).map(_ => Future {
      go.await()
      Artifacts.get("spec.race", "k", "fp") {
        builds.incrementAndGet()
        Thread.sleep(50) // keep the build open while the others arrive
        "built"
      }
    })
    go.countDown()
    assert(calls.map(await) == Seq.fill(8)("built"))
    assert(builds.get == 1, s"${builds.get} builds for one key")
  }

  test("a blocked build of one key does not block a get of another") {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val a = Future(Artifacts.get("spec.block", "a", "fp") {
      started.countDown()
      release.await(30, TimeUnit.SECONDS)
      1
    })
    try {
      assert(started.await(30, TimeUnit.SECONDS))
      val b = Future(Artifacts.get("spec.block", "b", "fp")(2))
      assert(Await.result(b, 10.seconds) == 2)
      assert(!a.isCompleted)
    } finally release.countDown()
    assert(await(a) == 1)
  }

  test("a nested get from inside a build returns") {
    val v = Artifacts.get("spec.nest", "outer", "fp") {
      Artifacts.get("spec.nest", "inner", "fp") {
        Artifacts.get("spec.nest", "innermost", "fp")(1) + 1
      } + 1
    }
    assert(v == 3)
    assert(Artifacts.keys("spec.nest") == Seq("inner", "innermost", "outer"))
  }

  test("a build asking for its own key fails instead of deadlocking") {
    val e = intercept[IllegalStateException] {
      Artifacts.get("spec.self", "k", "fp")(Artifacts.get("spec.self", "k", "fp")(1))
    }
    assert(e.getMessage.contains("its own build"))
    assert(Artifacts.keys("spec.self").isEmpty)
  }

  test("a build that throws leaves no entry, and the next call rebuilds") {
    val builds = new AtomicInteger()
    intercept[RuntimeException] {
      Artifacts.get[Int]("spec.fail", "k", "fp") {
        builds.incrementAndGet()
        throw new RuntimeException("build failed")
      }
    }
    assert(Artifacts.keys("spec.fail").isEmpty)
    assert(Artifacts.get("spec.fail", "k", "fp") { builds.incrementAndGet(); 7 } == 7)
    assert(builds.get == 2)
    assert(Artifacts.get("spec.fail", "k", "fp")(8) == 7, "the rebuilt entry was not kept")
  }

  test("a caller waiting on a build that throws gets its error or builds, never hangs") {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val builder = Future(Artifacts.get[Int]("spec.failwait", "k", "fp") {
      started.countDown()
      release.await(30, TimeUnit.SECONDS)
      throw new IllegalArgumentException("bad input")
    })
    assert(started.await(30, TimeUnit.SECONDS))
    val waiter = Future(Artifacts.get("spec.failwait", "k", "fp")(1))
    Thread.sleep(100) // let the waiter reach the pending entry
    release.countDown()
    intercept[IllegalArgumentException](await(builder))
    // the waiter either joined the failed build or arrived after it
    // and built its own value; it never hangs
    assert(Await.ready(waiter, 30.seconds).value.get.fold(
      _.isInstanceOf[IllegalArgumentException], _ == 1))
  }

  test("a new fingerprint replaces the entry, one entry per (kind, key)") {
    assert(Artifacts.get("spec.fp", "d", "fp1")("gen1") == "gen1")
    assert(Artifacts.get("spec.fp", "d", "fp1")("unused") == "gen1")
    assert(Artifacts.get("spec.fp", "d", "fp2")("gen2") == "gen2")
    assert(Artifacts.get("spec.fp", "d", "fp2")("unused") == "gen2")
    assert(Artifacts.keys("spec.fp") == Seq("d"))
    // going back to an earlier fingerprint is a rebuild, not a revival
    assert(Artifacts.get("spec.fp", "d", "fp1")("gen3") == "gen3")
    assert(Artifacts.keys("spec.fp") == Seq("d"))
  }

  test("a hit that fails its validity check is rebuilt") {
    var ok = true
    val builds = new AtomicInteger()
    def call() = Artifacts.getValid[Int]("spec.valid", "k", "fp", _ => ok)(builds.incrementAndGet())
    assert(call() == 1)
    assert(call() == 1)
    ok = false
    assert(call() == 2, "an invalid hit was served")
    ok = true
    assert(call() == 2)
    assert(Artifacts.keys("spec.valid") == Seq("k"))
  }

  test("forget drops one entry, forgetKinds every entry of the kinds it names") {
    Artifacts.get("spec.forget", "k", "fp")(1)
    Artifacts.forget("spec.forget", "k")
    assert(Artifacts.get("spec.forget", "k", "fp")(2) == 2)
    Artifacts.forgetKinds(_ == "spec.forget")
    assert(Artifacts.keys("spec.forget").isEmpty)
  }

  override def afterAll(): Unit = {
    pool.shutdownNow()
    super.afterAll()
  }
}
