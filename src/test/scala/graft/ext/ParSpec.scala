package graft.ext

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.SparkSpec

class ParSpec extends SparkSpec {

  test("Par.run: results come back in thunk order") {
    val sc = spark.sparkContext
    val out = Par.run((1 to 4).map(k => () => sc.parallelize(1 to k, 2).count()))
    assert(out == Seq(1L, 2L, 3L, 4L))
  }

  test("Par.run: the first failure cancels a running sibling job and rethrows its cause") {
    val sc = spark.sparkContext
    val siblingStarted = new CountDownLatch(1)
    @volatile var siblingJob = -1
    @volatile var siblingGroup: String = null
    val ended = new ConcurrentHashMap[Int, JobResult]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.job.description") == "par-sibling") {
          siblingJob = e.jobId
          siblingGroup = e.properties.getProperty("spark.jobGroup.id")
          siblingStarted.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ended.put(e.jobId, e.jobResult)
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      // ~20 s uncancelled: 4000 rows × 10 ms over 2 tasks
      val sibling = () => {
        sc.setJobDescription("par-sibling")
        sc.parallelize(1 to 4000, 2).map { i => Thread.sleep(10); i }.count()
      }
      val boom = new IllegalStateException("boom")
      val failing = () => {
        require(siblingStarted.await(30, TimeUnit.SECONDS), "sibling job never started")
        throw boom
      }
      val t0 = System.nanoTime()
      // the sibling comes first, so waiting on results in order would
      // block on it for its full run
      val thrown = intercept[IllegalStateException](Par.run(Seq(sibling, failing)))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(thrown eq boom)
      assert(secs < 10, s"rethrown after $secs s")
      assert(siblingGroup != null, "the sibling ran outside a job group")
      val deadline = System.nanoTime() + 10000000000L
      while (!ended.containsKey(siblingJob) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(ended.containsKey(siblingJob), "the sibling job never ended")
      assert(ended.get(siblingJob) != JobSucceeded, "the sibling job ran to completion")
    } finally sc.removeSparkListener(listener)
  }
}
