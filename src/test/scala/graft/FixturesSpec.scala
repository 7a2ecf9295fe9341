package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The harness fixture store: build-once memo under concurrency, retry
  * after a failed build, nested builds, and the scratch-dir root.
  */
class FixturesSpec extends AnyFunSuite {

  private def freshKey(): String = java.util.UUID.randomUUID().toString

  test("memo: 8 concurrent callers of one key build it once and share the value") {
    val key = freshKey()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map(_ => pool.submit(new Callable[Object] {
        def call(): Object = {
          start.await()
          Fixtures.memo("spec-once", key) {
            builds.incrementAndGet()
            Thread.sleep(50)
            new Object
          }
        }
      }))
      start.countDown()
      val values = results.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get === 1)
      assert(values.distinct.size === 1)
    } finally pool.shutdownNow()
  }

  test("memo: a build that throws is not memoized; the next call builds") {
    val key = freshKey()
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      Fixtures.memo[String]("spec-retry", key) {
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(Fixtures.memo("spec-retry", key) { builds.incrementAndGet(); "built" } === "built")
    assert(Fixtures.memo("spec-retry", key) { builds.incrementAndGet(); "again" } === "built")
    assert(builds.get === 2)
  }

  test("memo: a build may memo another key (nested builds do not throw)") {
    val key = freshKey()
    val outer = Fixtures.memo("spec-outer", key) {
      Fixtures.memo("spec-inner", key)(21) * 2
    }
    assert(outer === 42)
    assert(Fixtures.memo("spec-inner", key)(-1) === 21)
  }

  test("dir: every dir lies under one root; delete removes a nested tree with files") {
    val a = Fixtures.dir("spec_a")
    val b = Fixtures.dir("spec_b")
    assert(a.getParent === b.getParent)
    assert(a.getParent.getFileName.toString.startsWith("graft-fixtures"))
    Files.createDirectories(a.resolve("x/y"))
    Files.writeString(a.resolve("x/y/f.txt"), "data")
    Files.writeString(a.resolve("top.txt"), "data")
    Fixtures.delete(a)
    assert(!Files.exists(a))
    assert(Files.exists(b))
    Fixtures.delete(b)
  }
}
