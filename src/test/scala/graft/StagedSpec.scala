package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The per-session staging memo's contract: compute once per key, a
  * concurrent first touch waits for the value, a failure is retried on the
  * next call (also through SparkEntry's `ensureStaged` fixture gate), and a
  * compute may stage other keys and other memos. SparkEntry's fixture
  * dirs are keyed by the absolute sf dir. */
class StagedSpec extends AnyFunSuite {

  test("racing first touches of one key compute once and all get the value") {
    val memo = new Staged[String]
    val calls = new AtomicInteger()
    val arrived = new AtomicInteger()
    val release = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(new Callable[String] {
          def call(): String = {
            arrived.incrementAndGet()
            memo("k") {
              calls.incrementAndGet()
              // hold the compute open so every other thread hits the
              // key while it is still being staged
              release.await()
              "staged"
            }
          }
        })
      }
      while (arrived.get() < 8) Thread.sleep(5)
      Thread.sleep(200)
      assert(calls.get() == 1)
      assert(results.forall(!_.isDone),
        "a caller returned before the staged value existed")
      release.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)) == Seq.fill(8)("staged"))
      assert(calls.get() == 1)
    } finally pool.shutdownNow()
  }

  test("a failed compute propagates and the next call computes again") {
    val memo = new Staged[Int]
    var runs = 0
    val e = intercept[IllegalArgumentException] {
      memo("k") { runs += 1; throw new IllegalArgumentException("first") }
    }
    assert(e.getMessage == "first")
    assert(memo("k") { runs += 1; 7 } == 7)
    assert(memo("k") { runs += 1; 8 } == 7)
    assert(runs == 2)
  }

  test("ensureStaged re-runs a write that threw") {
    val path = Files.createTempDirectory("graft_staged_").toString + "/fx"
    var runs = 0
    intercept[RuntimeException] {
      SparkEntry.ensureStaged(path) {
        runs += 1
        throw new RuntimeException("landing write failed")
      }
    }
    SparkEntry.ensureStaged(path) { runs += 1 }
    SparkEntry.ensureStaged(path) { runs += 1 }
    assert(runs == 2)
  }

  test("two sf dirs of one name stage separate fixtures") {
    // …/a/sf0.001 holds 200 orders, …/b/sf0.001 the even-keyed half
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_sfalias_")
    val orders = spark.range(1, 201).select(col("id").as("o_orderkey"),
      (col("id") * 500.0).as("o_totalprice"),
      concat(lit("P"), col("id") % 3).as("o_orderpriority"))
    val a = root.resolve("a/sf0.001").toString
    val b = root.resolve("b/sf0.001").toString
    orders.write.parquet(s"$a/orders.parquet")
    orders.filter(col("o_orderkey") % 2 === 0).write.parquet(s"$b/orders.parquet")
    // ext_rename_evolution reads a staged copy of `orders`; its v0 leg
    // counts the orders priced in [1000, 50000]
    def staged(dir: String): Long =
      SparkEntry.queries("ext_rename_evolution")(spark, dir)
        .filter("snapshot = 'v0'").agg(sum("n_orders")).head().getLong(0)
    def direct(dir: String): Long = Tables.load(spark, dir, "orders")
      .filter("o_totalprice BETWEEN 1000 AND 50000").count()
    assert(staged(a) == direct(a))
    assert(direct(b) < direct(a))
    assert(staged(b) == direct(b), "b's query read the fixture staged from a")
  }

  test("a compute may stage other keys and other memos without deadlock") {
    val a = new Staged[Int]
    val b = new Staged[Int]
    implicit val ec: ExecutionContext = ExecutionContext.global
    val v = Await.result(Future {
      a("outer") { a("inner")(1) + b("outer")(a("deeper")(2) * 10) }
    }, 30.seconds)
    assert(v == 21)
    assert(a("inner")(-1) == 1 && a("deeper")(-1) == 2)
    assert(b("outer")(-1) == 20 && a("outer")(-1) == 21)
  }

  test("a compute re-entering its own key fails fast and is retried") {
    val memo = new Staged[Int]
    intercept[IllegalStateException](memo("k")(memo("k")(1) + 1))
    assert(memo("k")(5) == 5)
  }
}
