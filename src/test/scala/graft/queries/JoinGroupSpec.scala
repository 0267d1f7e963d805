package graft.queries

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, ExecutionContext, Promise}
import scala.concurrent.duration._

/** The fold's join group: every tracked job is awaited before a
  * failure propagates, the first failure wins, and no other failure is
  * lost. */
class JoinGroupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("joinAll awaits a slow fork past an earlier failure, then throws " +
      "the first failure with the later one suppressed") {
    val g = new CorpusPipelineDelta.JoinGroup(spark)
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val latch = new CountDownLatch(1)
    val slowDone = new AtomicBoolean(false)
    val fast = g.fork("fast") { throw first }
    g.fork("slow") {
      latch.await()
      Thread.sleep(200)
      slowDone.set(true)
      throw second
    }
    // the slow fork is released only once the first has failed
    fast.failed.foreach(_ => latch.countDown())(ExecutionContext.global)
    val e = intercept[IllegalStateException](g.joinAll())
    assert(slowDone.get, "joinAll returned before the slow fork finished")
    assert(e eq first)
    assert(e.getSuppressed.toSeq == Seq(second))
  }

  test("joining joins tracked futures and executor tasks before the " +
      "body's failure propagates, attaching theirs to it") {
    val g = new CorpusPipelineDelta.JoinGroup(spark)
    val outside = Promise[Unit]()
    val ran = new AtomicBoolean(false)
    val primary = new RuntimeException("body")
    val side = new RuntimeException("outside")
    val e = intercept[RuntimeException](g.joining {
      g.track(outside.future)
      g.executor("task").execute { () =>
        Thread.sleep(200)
        ran.set(true)
        outside.failure(side)
      }
      throw primary
    })
    assert(ran.get && outside.isCompleted)
    assert(e eq primary)
    assert(e.getSuppressed.toSeq == Seq(side))
    // a clean body returns its value once everything joined
    assert(g.joining { g.fork("ok")(41); 42 } == 42)
    // the fork ran under its label
    val label = g.fork("labelled") {
      spark.sparkContext.getLocalProperty("spark.job.description") }
    assert(Await.result(label, 10.seconds) == "labelled")
    g.joinAll()
  }
}
