package graft.jobs

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The users fixture and the duplicates report over `LoadPortal`'s held
  * frames: each comes in its order without sorting the frame again, so
  * each costs at most one Spark job. Runs on
  * [[E1ConcurrencySpec.portalDir]].
  */
class PortalSinksSpec extends SparkSpec {

  /** The Spark jobs `body` starts on this thread, by their description. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val group = "graft-portal-sinks"
    val sentinel = "sentinel"
    val started = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => started.add(String.valueOf(p.getProperty("spark.job.description"))))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "sink")
      body
      // listener events arrive in order: once the sentinel job is seen,
      // every job `body` started has been seen before it
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains(sentinel))
      started.asScala.toSeq.filterNot(_ == sentinel)
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("users.json and the duplicates report come in order, each in at most one Spark job") {
    val job = new LoadPortal(spark, E1ConcurrencySpec.portalDir().toString)
    // the frames themselves are computed outside the counts
    val users = job.users
    val out = Files.createTempDirectory("graft_portal_sinks")

    val usersJobs = jobsOf(Fixtures.writeUsers(users, out.toString))
    val pks = "\"pk\":(\\d+)".r.findAllMatchIn(Files.readString(out.resolve("users.json")))
      .map(_.group(1).toInt).toSeq
    assert(pks === Seq(2001, 2002))
    assert(usersJobs.size <= 1, usersJobs)

    val duplicatesJobs = jobsOf(job.duplicates)
    assert(duplicatesJobs.size <= 1, duplicatesJobs)
    val keys = job.duplicates.collect().toSeq.map(r => (r.getAs[String]("identifier"), r.getAs[Int]("id")))
    assert(keys === Seq(
      ("continuous_plankton_recorder_survey", 1), ("continuous_plankton_recorder_survey", 7),
      ("continuous_plankton_recorder_survey", 10), ("seabird_colony_counts", 4), ("seabird_colony_counts", 9)))
    assert(keys === keys.sorted)
  }
}
