package graft.analytics

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, CyclicBarrier}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The single-writer contract for the persisted indexes: a racing writer
  * either serializes behind the lock or FAILS LOUDLY, and a failed writer
  * leaves the index byte-for-byte untouched — no silent partial state. */
class IndexLockSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("acquire is exclusive: racing threads admit exactly one holder per round, losers throw") {
    val dir = Files.createTempDirectory("lockrace").toString
    val threads = 8
    val rounds = 5
    val active = new AtomicInteger(0)
    val maxActive = new AtomicInteger(0)
    val wins = new AtomicInteger(0)
    val losses = new AtomicInteger(0)
    for (_ <- 1 to rounds) {
      val start = new CyclicBarrier(threads)
      val done = new CountDownLatch(threads)
      for (_ <- 1 to threads) {
        new Thread(() => {
          start.await()
          try IndexLock.withLock(spark, dir) {
            val a = active.incrementAndGet()
            maxActive.getAndUpdate(m => math.max(m, a))
            Thread.sleep(25)
            active.decrementAndGet()
            wins.incrementAndGet()
          } catch {
            case _: IndexLock.ConcurrentWriterException => losses.incrementAndGet()
          } finally done.countDown()
        }).start()
      }
      done.await()
    }
    // mutual exclusion held every round, and every loser failed LOUDLY
    assert(maxActive.get() == 1, s"two writers held the lock at once")
    assert(wins.get() >= rounds, s"at least one winner per round, got ${wins.get()}")
    assert(wins.get() + losses.get() == threads * rounds)
  }

  test("lock is released when the writer body throws") {
    val dir = Files.createTempDirectory("lockexc").toString
    intercept[RuntimeException] {
      IndexLock.withLock(spark, dir) { throw new RuntimeException("writer died") }
    }
    // a crashed-body writer must not wedge the index
    IndexLock.withLock(spark, dir) { () }
  }

  test("append against a locked index fails loudly and leaves the index untouched") {
    val docs = graft.Tables(spark, sf("sf0.001")).documents
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val (base, delta) = (docs.filter(col("doc_id") <= hi / 2),
      docs.filter(col("doc_id") > hi / 2))
    val dir = Files.createTempDirectory("lockidx").toString
    SearchIndex.build(base, dir)
    val terms = Seq("data", "fast", "query")
    val before = rows(SearchIndex.query(spark, dir, terms, k = 20))
    assert(before.nonEmpty)

    IndexLock.acquire(spark, dir) // another writer holds the index
    val e = intercept[IndexLock.ConcurrentWriterException] {
      SearchIndex.append(delta, dir)
    }
    assert(e.getMessage.contains(IndexLock.LockFile))
    // the refused append wrote NOTHING: serving is unchanged
    assert(rows(SearchIndex.query(spark, dir, terms, k = 20)) == before)

    IndexLock.release(spark, dir)
    SearchIndex.append(delta, dir) // and the retry after release lands
    val after = rows(SearchIndex.query(spark, dir, terms, k = 20))
    val oneShot = Search.bm25TopDocs(docs, terms, k = 20)
    val want = rows(oneShot)
    assert(after == want)
  }

  /** The crashed-holder fixture: a `_lock` FILE left on disk with no live
    * OS lock behind it — exactly what a kill -9'd writer leaves (the kernel
    * released its advisory lock the instant the process died). */
  private def plantStaleLock(dir: String): java.nio.file.Path = {
    val lock = java.nio.file.Paths.get(dir).resolve(IndexLock.LockFile)
    Files.write(lock,
      "pid=1999999999 thread=crashed-writer at=2026-01-01T00:00:00Z".getBytes("UTF-8"))
  }

  test("a lock orphaned by a dead holder is reclaimed automatically") {
    val dir = Files.createTempDirectory("lockdead").toString
    plantStaleLock(dir)
    // no operator intervention: the next acquire reclaims and proceeds
    IndexLock.withLock(spark, dir) { () }
    assert(!Files.exists(java.nio.file.Paths.get(dir).resolve(IndexLock.LockFile)),
      "reclaimed-and-released lock file should be gone")
  }

  test("a lock held by a LIVE holder is refused, never reclaimed") {
    val dir = Files.createTempDirectory("locklive").toString
    IndexLock.acquire(spark, dir) // live holder: this JVM
    val e = intercept[IndexLock.ConcurrentWriterException] {
      IndexLock.acquire(spark, dir)
    }
    assert(e.getMessage.contains(s"pid=${ProcessHandle.current().pid()}"),
      s"refusal should name the live holder, got: ${e.getMessage}")
    // the live holder's lock survived the refused contender
    assert(Files.exists(java.nio.file.Paths.get(dir).resolve(IndexLock.LockFile)))
    IndexLock.release(spark, dir)
  }

  test("racing reclaim of a dead lock is safe: mutual exclusion holds throughout") {
    val dir = Files.createTempDirectory("lockreclaim").toString
    val threads = 8
    val active = new AtomicInteger(0)
    val maxActive = new AtomicInteger(0)
    val wins = new AtomicInteger(0)
    val losses = new AtomicInteger(0)
    for (_ <- 1 to 3) {
      plantStaleLock(dir) // every round starts with a stale lock
      val start = new CyclicBarrier(threads)
      val done = new CountDownLatch(threads)
      for (_ <- 1 to threads) {
        new Thread(() => {
          start.await()
          try IndexLock.withLock(spark, dir) {
            val a = active.incrementAndGet()
            maxActive.getAndUpdate(m => math.max(m, a))
            Thread.sleep(20)
            active.decrementAndGet()
            wins.incrementAndGet()
          } catch {
            case _: IndexLock.ConcurrentWriterException => losses.incrementAndGet()
          } finally done.countDown()
        }).start()
      }
      done.await()
    }
    assert(maxActive.get() == 1, "a reclaimer and a holder overlapped")
    assert(wins.get() >= 3, s"at least one reclaimer must win per round, got ${wins.get()}")
    assert(wins.get() + losses.get() == threads * 3)
  }

  test("bloom append race cannot lose an update: second writer is refused while first holds") {
    import spark.implicits._
    val regA = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val regB = Seq((2L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("lockbloom").toString
    BloomIndex.build(regA, dir)
    IndexLock.acquire(spark, dir)
    intercept[IndexLock.ConcurrentWriterException] { BloomIndex.append(regB, dir) }
    IndexLock.release(spark, dir)
    BloomIndex.append(regB, dir)
    // after the serialized retry, BOTH registries screen (no lost update)
    val docs = Seq(
      (10L, "has alpha beta gamma overlap"),
      (11L, "has epsilon zeta eta overlap"),
      (12L, "completely clean text here")).toDF("doc_id", "text")
    val kept = BloomIndex.decontaminate(spark, dir, docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L))
  }
}
