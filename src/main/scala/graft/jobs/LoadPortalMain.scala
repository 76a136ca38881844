package graft.jobs

/** E1 entry point: runs the whole LoadPortal pipeline against a data
  * directory and writes every artifact the reference produces —
  * per-identifier geometry files, the Django fixtures, and the
  * duplicate/missing reports (as CSV).
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
    val spatial = SpatialExport.run(spark, combined, dataDir, s"$outDir/output")

    // K2/K3 Django fixtures (index.Rmd:648-656, 680-688)
    Fixtures.writeEovs(spark, s"$outDir/output")
    val userCount = Fixtures.writeUsers(job.users, s"$outDir/output")

    // reports (the reference prints these as notebook tables)
    job.duplicates.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$outDir/reports/duplicates")
    spatial.missingSpatial.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$outDir/reports/missing_spatial")

    // the frames are held on the driver (LoadPortal): collecting one
    // reads that copy and runs no Spark job, where count() would
    println(s"[e1] initial=${job.initial.collect().length} eurosea=${job.eurosea.collect().length} " +
      s"combined=${combined.collect().length} users=$userCount " +
      s"duplicates=${job.duplicates.collect().length} " +
      s"missing_spatial=${spatial.missingIdentifiers.length} out=$outDir")
    spark.stop()
  }
}
