package perfbench

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.CountDownLatch

class LedgerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("perfbench-test")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", "target/spark-local")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("two overlapping spans attribute task-seconds exactly through job groups") {
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val ledger = new Ledger
    sc.addSparkListener(ledger)
    val start = new CountDownLatch(1)
    val windows = new java.util.concurrent.ConcurrentHashMap[String, (Double, Double)]()
    def span(group: String, parts: Int, sleepMs: Long): Thread = new Thread(() => {
      start.await()
      sc.setJobGroup(group, group)
      val t0 = System.currentTimeMillis().toDouble
      sc.parallelize(1 to parts, parts).foreach(_ => Thread.sleep(sleepMs))
      windows.put(group, (t0, System.currentTimeMillis().toDouble))
      sc.clearJobGroup()
    })
    val threads = Seq(span("a", 2, 600), span("b", 2, 200))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    ListenerDrain(sc)

    val tasks = ledger.tasks
    val (a, b) = (tasks.filter(_.group == "a"), tasks.filter(_.group == "b"))
    assert(a.size == 2 && b.size == 2 && tasks.size == 4)
    // the spans overlap, so a window over a shared counter would give span
    // "a" the tasks of "b" too
    val (wa, wb) = (windows.get("a"), windows.get("b"))
    assert(wb._1 < wa._2 && wa._1 < wb._2, "spans did not overlap")
    assert(b.forall(t => t.launchMs >= wa._1 && t.finishMs <= wa._2), "b ran inside a's window")
    // each group holds its own tasks' run time, and the two add up to all
    assert(a.forall(_.runMs >= 600) && b.forall(t => t.runMs >= 200 && t.runMs < 600))
    assert(a.map(_.runMs).sum + b.map(_.runMs).sum == tasks.map(_.runMs).sum)
    assert(ledger.jobs.map(_.group).sorted == Seq("a", "b"))
  }

  test("self counters exclude the work of child spans") {
    val tasks = Seq(
      TaskRec("g", 100, 200, 100, 0, 0, 0, 1000000, 0, failed = false),
      TaskRec("g", 300, 400, 100, 0, 0, 0, 0, 0, failed = false),
      TaskRec("h", 300, 400, 100, 0, 0, 0, 0, 0, failed = false))
    val parent = Span(1, "algos.pagerank", 1, 0, "g", 0, 1000)
    val child = Span(2, "bsp", 1, 1, "g", 250, 750)
    val c = Attribution.selfCounters(Seq(parent, child), tasks, Seq(JobRec("g", 50), JobRec("g", 260)))
    assert(c(1).selfS == 0.5 && c(1).taskS == 0.1 && c(1).jobs == 1 && c(1).shuffleMb == 1.0)
    assert(c(1).driverS == 0.4)
    assert(c(2).selfS == 0.5 && c(2).taskS == 0.1 && c(2).jobs == 1 && c(2).driverS == 0.4)
  }
}
