package graft.jobs

import graft.TaskPool
import org.apache.spark.sql.DataFrame

/** E1 entry point: runs the whole LoadPortal pipeline against a data
  * directory and writes every artifact the reference produces —
  * per-identifier geometry files, the Django fixtures, and the
  * duplicate/missing reports (as CSV).
  *
  * Once the identifiers are assigned, the spatial export, the fixtures
  * and the duplicates report run at once on the session ([[TaskPool]]);
  * the missing-spatial report waits for the export only.
  *
  * Usage: `runMain graft.jobs.LoadPortalMain <dataDir> <outDir>`
  * (defaults: /root/reference/data → /tmp/graft_e1).
  */
object LoadPortalMain {
  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/reference/data")
    val outDir = args.lift(1).getOrElse("/tmp/graft_e1")
    val spark = graft.GraftSession()

    val job = new LoadPortal(spark, dataDir)
    val combined = job.withIdentifiers
    val (spatial, userCount) = TaskPool(spark) { pool =>
      val exported = pool.fork(SpatialExport.run(spark, combined, dataDir, s"$outDir/output"))
      // K2/K3 Django fixtures (index.Rmd:648-656, 680-688)
      val fixtures = pool.fork {
        Fixtures.writeEovs(spark, s"$outDir/output")
        Fixtures.writeUsers(job.users, s"$outDir/output")
      }
      // reports (the reference prints these as notebook tables)
      val duplicates = pool.fork(writeReport(job.duplicates, s"$outDir/reports/duplicates"))
      val missing = pool.fork(writeReport(exported.get.missingSpatial, s"$outDir/reports/missing_spatial"))
      duplicates.get
      missing.get
      (exported.get, fixtures.get)
    }

    // the frames are held on the driver (LoadPortal): collecting one
    // reads that copy and runs no Spark job, where count() would
    println(s"[e1] initial=${job.initial.collect().length} eurosea=${job.eurosea.collect().length} " +
      s"combined=${combined.collect().length} users=$userCount " +
      s"duplicates=${job.duplicates.collect().length} " +
      s"missing_spatial=${spatial.missingIdentifiers.length} out=$outDir")
    spark.stop()
  }

  private def writeReport(report: DataFrame, path: String): Unit =
    report.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
}
