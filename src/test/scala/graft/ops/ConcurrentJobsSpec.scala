package graft.ops

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[ConcurrentJobs.settleAll]]: jobs submitted from pool threads carry
  * the SUBMITTING thread's job description, not the one a pool thread
  * inherited when it was created; and every thunk settles before a
  * failure is rethrown.
  */
class ConcurrentJobsSpec extends SparkSpec {

  private val prefix = "settleAll spec"

  test("every job carries the submitting thread's label, not the pool thread's") {
    val sc = spark.sparkContext
    val labels = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith(prefix)).foreach(labels.add)
    }
    def drain(n: Int): Seq[String] = {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (labels.size < n && System.nanoTime() < deadline) Thread.sleep(20)
      val out = Seq.fill(labels.size)(labels.poll())
      out
    }
    val width = Runtime.getRuntime.availableProcessors
    val prev = sc.getLocalProperty("spark.job.description")
    sc.addSparkListener(listener)
    try {
      // label A: `width` thunks that cannot finish until all have
      // started, so the pool holds `width` live threads under A
      sc.setJobDescription(s"$prefix A")
      val started = new CountDownLatch(width)
      ConcurrentJobs.settleAll(spark)(Seq.fill(width)(() => {
        started.countDown()
        started.await(30, TimeUnit.SECONDS)
        sc.parallelize(0 until 4, 2).count()
      }): _*)
      assert(drain(width) === Seq.fill(width)(s"$prefix A"))
      // label B from the same thread: the pool threads were created (or
      // last used) under A
      sc.setJobDescription(s"$prefix B")
      ConcurrentJobs.settleAll(spark)(
        Seq.fill(2 * width)(() => sc.parallelize(0 until 4, 2).count()): _*)
      assert(drain(2 * width) === Seq.fill(2 * width)(s"$prefix B"))
    } finally {
      sc.setJobDescription(prev)
      sc.removeSparkListener(listener)
    }
  }

  test("every thunk settles before the first failure is rethrown") {
    val done = new java.util.concurrent.atomic.AtomicInteger()
    val e = intercept[IllegalStateException] {
      ConcurrentJobs.settleAll(spark)(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(300); done.incrementAndGet() },
        () => { Thread.sleep(300); done.incrementAndGet() })
    }
    assert(e.getMessage === "first")
    assert(done.get === 2)
  }
}
