package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Memo

/** The memo facility's three promises: one build per key however many
  * threads ask at once, a stale hit released before its rebuild, and a
  * clear that releases every entry exactly once. */
class MemoSpec extends AnyFunSuite {

  test("threads that ask one key at once run its build exactly once") {
    val memo = new Memo[String, Integer](_ => ())
    val builds = new AtomicInteger
    val nThreads = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(nThreads)
    try {
      val answers = (1 to nThreads).map { i =>
        pool.submit(new Callable[Integer] {
          def call(): Integer = {
            start.await()
            memo("k") { builds.incrementAndGet(); Thread.sleep(200); Integer.valueOf(i) }
          }
        })
      }
      start.countDown()
      val values = answers.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, s"${builds.get} builds for one key")
      assert(values.distinct.size == 1, s"callers saw different values: $values")
    } finally pool.shutdownNow()
  }

  test("a build may ask the same memo for another key") {
    val memo = new Memo[Int, String](_ => ())
    assert(memo(1)(memo(2)("b") + "a") == "ba")
    assert(memo(2)("not rebuilt") == "b")
  }

  test("a build that throws leaves no entry, and the next call builds again") {
    val memo = new Memo[Int, String](_ => ())
    intercept[IllegalStateException](memo(1)(throw new IllegalStateException("boom")))
    assert(memo(1)("built") == "built")
  }

  test("a hit that fails validation is released before the rebuild") {
    val events = new ConcurrentLinkedQueue[String]
    val memo = new Memo[String, String](v => events.add(s"release $v"))
    memo("k") { events.add("build v1"); "v1" }
    val hit = memo("k", _ == "v1") { events.add("build v2"); "v2" }
    assert(hit == "v1")
    val rebuilt = memo("k", _ == "v2") { events.add("build v2"); "v2" }
    assert(rebuilt == "v2")
    assert(events.asScala.toSeq == Seq("build v1", "release v1", "build v2"))
  }

  test("a clear releases every entry and pin once") {
    val released = new ConcurrentLinkedQueue[String]
    val owner = new Object
    val memo = Memo[Int, String](owner, v => released.add(v))
    val other = Memo[Int, String](new Object, v => released.add(s"other $v"))
    (1 to 5).foreach(i => memo(i)(s"v$i"))
    memo.pin("pinned")
    other(1)("kept")
    Memo.release(owner)
    assert(released.asScala.toSeq.sorted == (Seq("pinned") ++ (1 to 5).map(i => s"v$i")).sorted)
    Memo.release(owner)
    assert(released.size == 6, "a second release found entries already released")
    assert(memo(1)("again") == "again", "a released key builds afresh")
    other.clear()
    assert(released.asScala.count(_ == "other kept") == 1)
  }
}
