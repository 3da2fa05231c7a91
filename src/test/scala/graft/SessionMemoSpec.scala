package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.storage.StorageLevel

import graft.operators._

/** Lifecycle and build properties of the shared-artifact memo. */
class SessionMemoSpec extends GraftSpec {
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val keep: Any => Unit = _ => ()

  test("one release frees every frame and checkpoint the families left, and only for this session") {
    SessionMemo.release(spark, sfDir)
    val before = persisted
    Seq("d6_dedup_minhash", "d12_ann_ivf", "d13_dedup_embedding", "d69_ann_pq",
        "d20_contamination", "d25_dedup_clusters", "d67_bpe_merges", "d68_bpe_encode")
      .foreach(q => SparkEntry.queries(q)(spark, sfDir).count())
    val mine = persisted -- before
    assert(mine.nonEmpty, "expected the families to persist shared artifacts")

    // another session's shutdown frees its own entries, not this one's
    val other = spark.newSession()
    val freed = new AtomicInteger
    SessionMemo.value(other, sfDir, "spec.other")(1)(_ => freed.incrementAndGet())
    SessionMemo.releaseSession(other)
    assert(freed.get == 1)
    assert((mine -- persisted).isEmpty, s"another session's release freed ${mine -- persisted}")

    TextOps.release(spark, sfDir)
    val leaked = persisted & mine
    assert(leaked.isEmpty, s"leaked persisted or checkpointed RDDs: $leaked")
  }

  test("releasing a session whose frames share another session's cached plans keeps the other's blocks") {
    SessionMemo.release(spark, sfDir)
    val before = persisted
    SparkEntry.queries("d6_dedup_minhash")(spark, sfDir).count()
    val mine = persisted -- before
    assert(mine.nonEmpty, "expected d6 to persist its shared frames")

    val other = spark.newSession()
    SparkEntry.queries("d6_dedup_minhash")(other, sfDir).count()
    SessionMemo.releaseSession(other)
    assert((mine -- persisted).isEmpty, s"another session's release freed ${mine -- persisted}")
    assert(DedupOps.sharedShingleHashes(spark, sfDir).storageLevel == StorageLevel.MEMORY_AND_DISK)

    SessionMemo.release(spark, sfDir)
    val leaked = persisted & mine
    assert(leaked.isEmpty, s"leaked persisted RDDs: $leaked")
  }

  test("releaseSession frees only the named session's entries") {
    val dir = "spec-memo-sessions"
    val other = spark.newSession()
    val freed = scala.collection.mutable.ArrayBuffer[String]()
    SessionMemo.value(spark, dir, "k")("mine")(v => freed.synchronized(freed += v))
    SessionMemo.value(other, dir, "k")("other")(v => freed.synchronized(freed += v))
    SessionMemo.releaseSession(other)
    assert(freed == Seq("other"))
    assert(SessionMemo.value[String](spark, dir, "k")(fail("rebuilt a live entry"))(keep) == "mine")
    SessionMemo.release(spark, dir)
    assert(freed == Seq("other", "mine"))
    assert(SessionMemo.value(spark, dir, "k")("rebuilt")(keep) == "rebuilt")
    SessionMemo.release(spark, dir)
  }

  test("builds of different keys never wait on each other") {
    val dir = "spec-memo-keys"
    val started, finish = new CountDownLatch(1)
    val slow = Future(SessionMemo.value(spark, dir, "slow") {
      started.countDown(); finish.await(); "slow"
    }(keep))
    try {
      assert(started.await(30, TimeUnit.SECONDS))
      assert(Await.result(Future(SessionMemo.value(spark, dir, "fast")("fast")(keep)), 30.seconds) == "fast")
    } finally finish.countDown()
    assert(Await.result(slow, 30.seconds) == "slow")
    SessionMemo.release(spark, dir)
  }

  test("a build may read other entries; callers of one key share one build") {
    val dir = "spec-memo-nested"
    val builds = new AtomicInteger
    def inner(): Int = SessionMemo.value(spark, dir, "inner") { builds.incrementAndGet(); 1 }(keep)
    val started, finish = new CountDownLatch(1)
    val first = Future(SessionMemo.value(spark, dir, "outer") {
      builds.incrementAndGet(); started.countDown(); finish.await(); inner() + 1
    }(keep))
    assert(started.await(30, TimeUnit.SECONDS))
    val second = Future(SessionMemo.value(spark, dir, "outer") { builds.incrementAndGet(); -1 }(keep))
    Thread.sleep(200) // the second caller is now waiting on the first build
    finish.countDown()
    assert(Await.result(first, 30.seconds) == 2)
    assert(Await.result(second, 30.seconds) == 2)
    assert(inner() == 1)
    assert(builds.get == 2, "one build of outer, one of inner")
    SessionMemo.release(spark, dir)
  }

  test("a build that throws is not cached") {
    val dir = "spec-memo-throws"
    val builds, freed = new AtomicInteger
    val started, finish = new CountDownLatch(1)
    val failing = Future(SessionMemo.value[Int](spark, dir, "k") {
      builds.incrementAndGet(); started.countDown(); finish.await()
      throw new IllegalStateException("build failed")
    }(keep))
    assert(started.await(30, TimeUnit.SECONDS))
    val waiting = Future(SessionMemo.value(spark, dir, "k") { builds.incrementAndGet(); 7 }(
      _ => freed.incrementAndGet()))
    Thread.sleep(200) // the second caller is now waiting on the failing build
    finish.countDown()
    intercept[IllegalStateException](Await.result(failing, 30.seconds))
    assert(Await.result(waiting, 30.seconds) == 7)
    assert(SessionMemo.value[Int](spark, dir, "k")(fail("rebuilt a live entry"))(keep) == 7)
    assert(builds.get == 2)
    SessionMemo.release(spark, dir)
    assert(freed.get == 1, "the retried build is released with its entry")
  }
}
