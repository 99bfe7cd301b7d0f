package graft.core

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** core.Memo: the session-scoped memo the dedup/ANN families lean on.
  * The contract under test: one build per (session, key), also under
  * concurrent callers; result identity with the un-memoized plan; key
  * and session isolation; builds of different keys never wait on each
  * other; a failed build leaves nothing behind. A stopped session's
  * entries cannot leak into a new one because keys carry the session
  * UUID, which Spark never reuses (the shared test JVM keeps one live
  * context, so stop-then-new is not exercised here).
  */
class MemoSpec extends SparkSpec with BeforeAndAfterAll {

  // concurrent cases block on latches: own threads, not the global pool
  private val pool = Executors.newFixedThreadPool(4)
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutor(pool)

  override def afterAll(): Unit = {
    pool.shutdownNow()
    super.afterAll()
  }

  test("builds once per key and returns identical rows") {
    val builds = new AtomicInteger(0)
    def make() = Memo.dataFrame(spark, "memospec:k1") {
      builds.incrementAndGet()
      Tables.documents(spark, sfDir)
        .groupBy("source").agg(count(lit(1)).as("n"))
    }
    val a = make()
    val b = make()
    builds.get() shouldBe 1
    val fresh = Tables.documents(spark, sfDir)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(_.toString).sorted
    a.collect().map(_.toString).sorted shouldBe fresh
    b.collect().map(_.toString).sorted shouldBe fresh
  }

  test("different keys build independently") {
    val builds = new AtomicInteger(0)
    def make(key: String, src: String) =
      Memo.dataFrame(spark, s"memospec:$key") {
        builds.incrementAndGet()
        Tables.documents(spark, sfDir).filter(col("source") === src)
          .select("doc_id")
      }
    val s0 = make("a", "src_0").count()
    val s1 = make("b", "src_1").count()
    builds.get() shouldBe 2
    // and re-requesting either does not rebuild
    make("a", "src_0").count() shouldBe s0
    make("b", "src_1").count() shouldBe s1
    builds.get() shouldBe 2
  }

  test("value() runs its body a single time per key") {
    val runs = new AtomicInteger(0)
    Memo.value(spark, "memospec:once")(runs.incrementAndGet())
    Memo.value(spark, "memospec:once")(runs.incrementAndGet())
    runs.get() shouldBe 1
    Memo.value(spark, "memospec:once2")(runs.incrementAndGet())
    runs.get() shouldBe 2
  }

  test("two live sessions build one key apart; keys() lists only its own") {
    val a = spark.newSession()
    val b = spark.newSession()
    val builds = new AtomicInteger(0)
    def make(s: SparkSession) = Memo.dataFrame(s, "memospec:per-session") {
      builds.incrementAndGet()
      Tables.documents(s, sfDir).select("doc_id").limit(3)
    }
    val ha = make(a)
    val hb = make(b)
    builds.get() shouldBe 2
    ha should not be theSameInstanceAs(hb)
    make(a) should be theSameInstanceAs ha
    builds.get() shouldBe 2
    Memo.value(b, "memospec:b-only")(1)
    Memo.keys(a) should contain("memospec:per-session")
    Memo.keys(a) should not contain "memospec:b-only"
    Memo.keys(b) should contain("memospec:b-only")
  }

  test("two threads asking for one key run the build once") {
    val runs = new AtomicInteger(0)
    val go = new CountDownLatch(1)
    val got = (1 to 2).map(_ => Future {
      go.await()
      Memo.value(spark, "memospec:race") {
        Thread.sleep(200) // hold the build open while the other arrives
        runs.incrementAndGet()
      }
    })
    go.countDown()
    Await.result(Future.sequence(got), 60.seconds) shouldBe Seq(1, 1)
    runs.get() shouldBe 1
  }

  test("a build does not block the build of another key") {
    // A's build waits for B's, which runs in another thread: one global
    // lock held across builds would keep B out until A gave up
    val aBuilding = new CountDownLatch(1)
    val bBuilt = new CountDownLatch(1)
    val a = Future {
      Memo.value(spark, "memospec:block-a") {
        aBuilding.countDown()
        bBuilt.await(30, TimeUnit.SECONDS)
      }
    }
    val b = Future {
      aBuilding.await()
      Memo.value(spark, "memospec:block-b")("b")
      bBuilt.countDown()
    }
    Await.result(b, 60.seconds)
    Await.result(a, 60.seconds) shouldBe true
  }

  test("a throwing build leaves no entry and the next call rebuilds") {
    val runs = new AtomicInteger(0)
    an[IllegalStateException] should be thrownBy
      Memo.value[Int](spark, "memospec:throws") {
        runs.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    Memo.keys(spark) should not contain "memospec:throws"
    Memo.value(spark, "memospec:throws")(runs.incrementAndGet()) shouldBe 2
    Memo.keys(spark) should contain("memospec:throws")
  }

  test("LRU eviction bounds live entries and rebuilds after eviction") {
    val builds = new AtomicInteger(0)
    def make(i: Int) = Memo.dataFrame(spark, s"memospec:evict:$i") {
      builds.incrementAndGet()
      Tables.documents(spark, sfDir).select("doc_id").limit(1)
    }
    // overflow the cap: entry 0 must age out
    (0 to Memo.MaxEntries).foreach(make)
    Memo.liveEntries should be <= Memo.MaxEntries
    val before = builds.get()
    make(Memo.MaxEntries).count() // newest: still cached, no rebuild
    builds.get() shouldBe before
    make(0).count() // oldest: evicted, rebuilds and still answers
    builds.get() shouldBe before + 1
  }

  test("memoized dedup pair relation equals the un-memoized operator") {
    // the real consumer path: the registry's memoized Jaccard pairs must
    // be row-identical to a fresh end-to-end run of the operator
    val docs = Tables.documents(spark, sfDir)
    val fresh = graft.operators.Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .collect().map(_.toString).sorted
    val viaRegistry = graft.queries.DedupQueries
      .defs("dedup_ngram_jaccard")(spark, sfDir)
      .collect().map(_.toString).sorted
    viaRegistry shouldBe fresh
  }
}
