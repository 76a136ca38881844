package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.sql.DriverManager
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Queries
import graft.io.{GeoNodeApi, JdbcBoundary, Shapefile, Xlsx}
import graft.jobs.{EovToKeywords, ExportInObis, LoadPortal, LoadPortalMain, SpatialExport}

/** The benchmark's JVM side. Drives the program only through its public
  * entry points, times each call, checks nothing itself: it records what
  * each run produced (`observations`) for `run.py` to compare with the
  * generator's expectations or the catalog goldens.
  *
  *   java ... perfbench.Harness mode=etl|catalog|digest key=value ...
  */
object Harness {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    Hooks.register(a("work"))
    Memory.watch()
    val out = a("mode") match {
      case "etl" => Etl.run(a)
      case "catalog" => Catalog.run(a)
      case "digest" => Catalog.digestDir(a)
    }
    Files.writeString(Paths.get(a("result")), mapper.writeValueAsString(toJava(out)))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  /** The session of the calls the harness makes itself (K5, E2, E3 and
    * the catalog); the same settings `LoadPortalMain` and `Bench` pass to
    * their builders. E1 builds its own.
    */
  def session(): SparkSession =
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  def peakRssKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }.getOrElse(0L)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  def treeStats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }

  /** Counters the traced runs report, over one timed run. */
  def traceSummary(t: Tracer, top: Seq[Span]): Map[String, Any] = {
    val groups = t.groups.asScala.map { case (g, c) => g -> c.snapshot }.toMap
    val plan = t.planRecords.asScala.toSeq.map { case (ms, k, v) =>
      val owner = top.find(s => t.toMs(s.startNs) <= ms && ms <= t.toMs(s.endNs)).map(_.name).getOrElse("none")
      Map("t_ms" -> ms, "span" -> owner, "key" -> k, "value" -> v)
    }
    Map(
      "spans" -> t.spans.map(s => Map("id" -> s.id, "name" -> s.name, "start_ms" -> t.toMs(s.startNs),
        "end_ms" -> t.toMs(s.endNs), "parent" -> s.parent)),
      "groups" -> groups,
      "plan" -> plan,
      "jobs" -> t.jobIntervals.asScala.map { case (g, l) => g -> l.asScala.toSeq.map(_.toSeq) }.toMap,
      "layers_ns" -> t.layerNs.asScala.map { case (k, v) => k -> v.get }.toMap,
      "sampler_gap_ns" -> t.gapNs.get)
  }
}

/** Measurement hooks Spark instantiates itself from the JVM's `spark.*`
  * system properties, as it does `--conf` settings of spark-submit, so
  * they reach every session, the one `LoadPortalMain` builds included.
  * They forward to the tracer of the current run.
  */
object Hooks {
  @volatile var tracer: Tracer = new Tracer(enabled = false)

  def register(work: String): Unit = {
    System.setProperty("spark.extraListeners", classOf[JobHook].getName)
    System.setProperty("spark.sql.queryExecutionListeners", classOf[QueryHook].getName)
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
  }
}

class JobHook extends SparkListener {
  private def t = { val x = Hooks.tracer; if (x.enabled) Some(x.listener) else None }
  override def onJobStart(e: SparkListenerJobStart): Unit = t.foreach(_.onJobStart(e))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = t.foreach(_.onJobEnd(e))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = t.foreach(_.onStageSubmitted(e))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = t.foreach(_.onTaskEnd(e))
}

class QueryHook extends QueryExecutionListener {
  private def t = { val x = Hooks.tracer; if (x.enabled) Some(x.qeListener) else None }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    t.foreach(_.onSuccess(funcName, qe, durationNs))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    t.foreach(_.onFailure(funcName, qe, exception))
}

/** Memory the program uses, with the harness's fixed heap taken out:
  * the largest heap occupancy any collection leaves behind (the live
  * set at its peak, from the collectors' notifications) and the peak of
  * everything resident outside the heap (VmHWM minus the committed heap,
  * which the pre-touched fixed heap keeps resident from the start).
  */
object Memory {
  val peakLiveBytes = new AtomicLong()

  def watch(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              .getGcInfo.getMemoryUsageAfterGc.asScala
            val live = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peakLiveBytes.accumulateAndGet(live, math.max)
          }, null, null)
      case _ => ()
    }
  }

  def summary: Map[String, Long] = Map(
    "peak_rss_kb" -> Harness.peakRssKb,
    "heap_committed_bytes" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted,
    "peak_live_heap_bytes" -> peakLiveBytes.get)
}

/** Counts the statements K5 hands to the real `JdbcExecutor` as they
  * pass. Task closures are serialized even in local mode, so the counts
  * live in JVM-static counters the driver reads after the run.
  */
class CountingExecutor(inner: JdbcBoundary.SqlExecutor) extends JdbcBoundary.SqlExecutor with AutoCloseable {
  def execute(stmt: JdbcBoundary.Stmt): Unit = {
    CountingExecutor.statements.incrementAndGet()
    if (stmt.sql.startsWith("insert")) CountingExecutor.inserts.incrementAndGet()
    inner.execute(stmt)
  }
  def close(): Unit = inner match { case c: AutoCloseable => c.close(); case _ => () }
}
object CountingExecutor {
  val statements = new AtomicLong()
  val inserts = new AtomicLong()
}

/** The benchmark's JDBC target: embedded Derby with the GeoNode tables
  * that `MetadataUpsert` and `EovToKeywords.linksQuery` touch.
  * Flush policy: `derby.system.durability=test` on every run (commits
  * are not forced to disk); the database is reset before each run,
  * outside the timed window, in one transaction.
  */
object Derby {
  val ddl = Seq(
    "create table goos_eov (id int primary key, short_name varchar(100), name varchar(200))",
    "create table base_resourcebase (id int primary key, title varchar(2000), abstract varchar(4000), " +
      "maintenance_frequency varchar(100), temporal_extent_start date, temporal_extent_end date)",
    "create table layers_layer (resourcebase_ptr_id int primary key, name varchar(200), " +
      "title_en varchar(2000), abstract_en varchar(4000), url varchar(2000))",
    "create table layers_layer_eovs (layer_id int, eov_id int)",
    "create index layers_layer_eovs_layer on layers_layer_eovs (layer_id)",
    "create table base_contactrole (resource_id int, contact_id int, role varchar(50))",
    "create index base_contactrole_resource on base_contactrole (resource_id)")

  def boot(work: String): (String, Properties) = {
    val home = s"$work/derby"
    new File(home).mkdirs()
    System.setProperty("derby.system.home", home)
    System.setProperty("derby.stream.error.file", s"$home/derby.log")
    System.setProperty("derby.system.durability", "test")
    val url = s"jdbc:derby:$home/portal"
    val c = DriverManager.getConnection(url + ";create=true;territory=en_US") // the JVM default locale is ROOT
    try {
      val st = c.createStatement()
      val have = c.getMetaData.getTables(null, null, "GOOS_EOV", null).next()
      if (!have) ddl.foreach(st.execute)
    } finally c.close()
    (url, new Properties())
  }

  def readCsv(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.drop(1).filter(_.nonEmpty).map(_.split(",", -1))

  /** Restores the pre-run state from the bundle's DB/API seed files. */
  def reset(url: String, data: String): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      val st = c.createStatement()
      Seq("goos_eov", "base_resourcebase", "layers_layer", "layers_layer_eovs", "base_contactrole")
        .foreach(t => st.executeUpdate(s"delete from $t"))
      if (c.getMetaData.getTables(null, null, "BASE_RESOURCEBASE_TKEYWORDS", null).next())
        st.executeUpdate("drop table base_resourcebase_tkeywords")
      def batch(sql: String, rows: Seq[Seq[Any]]): Unit = {
        val ps = c.prepareStatement(sql)
        rows.foreach { r => r.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }; ps.addBatch() }
        ps.executeBatch(); ps.close()
      }
      batch("insert into goos_eov (id, short_name, name) values (?, ?, ?)",
        readCsv(s"$data/db/goos_eov.csv").map(r => Seq(r(0).toInt, r(1), r(2))))
      val layers = Harness.mapper.readTree(new File(s"$data/db/geonode_layers.json")).get("layers")
        .elements().asScala.toSeq.map(n => (n.get("pk").asText.toInt, n.get("name").asText))
      batch("insert into base_resourcebase (id) values (?)", layers.map(l => Seq(l._1)))
      batch("insert into layers_layer (resourcebase_ptr_id, name) values (?, ?)", layers.map(l => Seq(l._1, l._2)))
      batch("insert into layers_layer_eovs (layer_id, eov_id) values (?, ?)",
        readCsv(s"$data/layers_layer_eovs.csv").map(r => Seq(r(0).toInt, r(1).toInt)))
      batch("insert into base_contactrole (resource_id, contact_id, role) values (?, ?, ?)",
        readCsv(s"$data/db/base_contactrole.csv").map(r => Seq(r(0).toInt, r(1).toInt, r(2))))
      c.commit()
    } finally c.close()
  }

  def observe(url: String): Map[String, Long] = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      def one(sql: String): Long = { val rs = st.executeQuery(sql); rs.next(); rs.getLong(1) }
      Map(
        "base_resourcebase" -> one("select count(*) from base_resourcebase"),
        "base_resourcebase_titled" -> one("select count(*) from base_resourcebase where title is not null"),
        "layers_layer" -> one("select count(*) from layers_layer"),
        "layers_layer_eovs" -> one("select count(*) from layers_layer_eovs"),
        "base_contactrole" -> one("select count(*) from base_contactrole"),
        "goos_eov" -> one("select count(*) from goos_eov"),
        "base_resourcebase_tkeywords" -> one("select count(*) from base_resourcebase_tkeywords"),
        "tkeywords_mapped" -> one("select count(*) from base_resourcebase_tkeywords where \"thesauruskeyword_id\" is not null"))
    } finally c.close()
  }

  def shutdown(): Unit =
    try DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () } // a clean shutdown always signals
}

/** The benchmark's GeoNode REST fake: canned layer pks and thesaurus
  * keywords from the bundle's seed files.
  */
class BundleApi(data: String) extends GeoNodeApi.HttpJson with Serializable {
  private val layers = Files.readString(Paths.get(s"$data/db/geonode_layers.json"))
  private val keywords = Files.readString(Paths.get(s"$data/db/geonode_tkeywords.json"))
  def get(url: String): String =
    if (url.contains("/api/v2/layers")) layers
    else if (url.contains("/api/v2/tkeywords")) keywords
    else throw new IllegalArgumentException(s"no canned payload for $url")
}

/** E1 → K5 → E2 → E3 over one generated bundle, in a closed loop. */
object Etl {
  val ApiBase = "http://geonode.invalid"

  def run(a: Map[String, String]): Map[String, Any] = {
    val data = a("data"); val work = a("work")
    val api = new BundleApi(data)
    val seconds = a("seconds").toDouble
    val minRuns = a("min_runs").toInt
    val traced = a("trace") == "1"
    val (url, props) = Derby.boot(work)

    def oneRun(tracer: Tracer): (Double, Seq[Span], Map[String, Any]) = {
      val out = s"$work/etl_out"
      Derby.reset(url, data)
      Harness.deleteTree(Paths.get(out))
      System.gc()
      val jitWait = Tracer.quiesceJit()
      val gc0 = Tracer.gcMs
      val captured = new ByteArrayOutputStream()
      Hooks.tracer = tracer
      CountingExecutor.statements.set(0)
      CountingExecutor.inserts.set(0)
      val cpu0 = Tracer.processCpuNs
      val t0 = System.nanoTime()
      // E1 builds, configures and stops its own session
      tracer.span("e1_load_portal_main") {
        Console.withOut(new PrintStream(captured, true)) { LoadPortalMain.main(Array(data, out)) }
      }
      val spark = tracer.span("session") { Harness.session() }
      spark.sparkContext.setLogLevel("ERROR")
      val job = new LoadPortal(spark, data)
      tracer.span("k5_upsert_metadata", Some(spark)) {
        val m = job.withLayerPks(job.withUserPks(job.withIdentifiers),
          GeoNodeApi.layers(spark, api, ApiBase))
        JdbcBoundary.upsertMetadata(m, () => new CountingExecutor(new JdbcBoundary.JdbcExecutor(url, props)))
      }
      tracer.span("e2_eov_to_keywords", Some(spark)) {
        EovToKeywords.run(spark, url, props, url, props, api, ApiBase, s"$out/backup/layers_layer_eovs")
      }
      tracer.span("e3_export_in_obis", Some(spark)) {
        val stmts = ExportInObis.statements(job.withIdentifiers).collect().map(_.getString(0))
        Files.writeString(Paths.get(s"$out/export_in_obis.sql"), stmts.mkString("", "\n", "\n"))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpuS = (Tracer.processCpuNs - cpu0) / 1e9
      val gcS = (Tracer.gcMs - gc0) / 1e3
      // ---- untimed: what this run produced
      spark.stop() // drains the listener bus
      Hooks.tracer = new Tracer(enabled = false)
      val obs = observe(out, url, new String(captured.toByteArray, "UTF-8")) ++ Map(
        "jdbc_statements" -> CountingExecutor.statements.get,
        "jdbc_inserts" -> CountingExecutor.inserts.get,
        "gc_s" -> gcS, "cpu_s" -> cpuS, "jit_wait_s" -> jitWait) ++
        (if (tracer.enabled) Map("readers" -> readers(data)) else Map.empty)
      (wall, tracer.spans.filter(s => s.parent < 0).toSeq, obs)
    }

    // ---- set-up: JVM start (measured by the caller) and Derby boot. No
    // warm-up: the portal load is a batch job that runs once in a fresh
    // JVM, so the timed run is that cold run, as deployed
    val readyMs = System.currentTimeMillis()
    val runs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var timed = 0.0
    // a traced process traces its run; run.py measures the tracing
    // overhead against an untraced process
    while (timed < seconds || runs.size < minRuns) {
      val tr = new Tracer(enabled = traced)
      if (tr.enabled) tr.startSampling(Thread.currentThread())
      val (wall, top, obs) = try oneRun(tr) finally tr.stopSampling()
      timed += wall
      runs += Map("wall_s" -> wall, "traced" -> tr.enabled,
        "calls" -> top.map(s => Map("name" -> s.name, "s" -> (s.endNs - s.startNs) / 1e9)),
        "obs" -> obs) ++ (if (tr.enabled) Map("trace" -> Harness.traceSummary(tr, top)) else Map.empty)
    }
    Derby.shutdown()
    Map("ready_ms" -> readyMs, "runs" -> runs, "memory" -> Memory.summary)
  }

  /** Wall of the driver-side readers E1 calls, on the files it calls
    * them on, timed directly (median of five passes, right after a traced
    * run): `Shapefile.read` on the IMMA and Finland copies and every
    * windfarm SHP, `Xlsx.readSheet` on EuroSea and WESPAS. These reads
    * take a few milliseconds, too short for the sampler to see.
    */
  def readers(data: String): Map[String, Double] = {
    def shpUnder(d: File): Seq[File] =
      if (!d.isDirectory) Nil
      else d.listFiles().toSeq.sortBy(_.getName).flatMap(f => if (f.isDirectory) shpUnder(f)
        else if (f.getName.endsWith(".shp")) Seq(f) else Nil)
    val shp = SpatialExport.shapefileCopies.map { case (_, rel) => s"$data/$rel" } ++
      shpUnder(new File(s"$data/${SpatialExport.windfarmFolder}")).map(_.getPath)
    val xlsx = Seq(s"$data/EuroSea.xlsx", s"$data/${SpatialExport.wespasXlsx}")
    def median5(body: => Unit): Double =
      Seq.fill(5) { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }.sorted.apply(2)
    Map("shp_s" -> median5(shp.foreach(Shapefile.read)),
      "xlsx_s" -> median5(xlsx.foreach(Xlsx.readSheet(_, 1))))
  }

  /** Counts an output check needs, read back from the files and tables. */
  def observe(out: String, url: String, e1Line: String): Map[String, Any] = {
    val e1 = "(\\w+)=(\\d+)".r.findAllMatchIn(e1Line).map(m => m.group(1) -> m.group(2).toLong).toMap
    val outDir = Paths.get(out, "output")
    val features = Files.list(outDir).iterator().asScala.filter(Files.isDirectory(_)).map { d =>
      val id = d.getFileName.toString
      val dbf = d.resolve(s"$id.dbf")
      val n = if (Files.exists(dbf)) {
        val b = java.nio.ByteBuffer.wrap(Files.readAllBytes(dbf)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.getInt(4).toLong
      } else -1L
      id -> n
    }.toMap
    val perDataset = Files.list(outDir).iterator().asScala.filter(Files.isDirectory(_)).map(Harness.treeStats).toSeq
    def csvRows(dir: String): Long =
      Files.list(Paths.get(out, dir)).iterator().asScala.filter(_.toString.endsWith(".csv"))
        .map(p => Files.readAllLines(p).size - 1L).sum
    def jsonLen(f: String): Long = Harness.mapper.readTree(outDir.resolve(f).toFile).size.toLong
    val obis = Files.readAllLines(Paths.get(out, "export_in_obis.sql")).asScala.filter(_.nonEmpty)
    val (outFiles, outBytes) = Harness.treeStats(Paths.get(out))
    Map(
      "e1" -> e1,
      "features" -> features,
      "spatial_files" -> perDataset.map(_._1).sum,
      "spatial_bytes" -> perDataset.map(_._2).sum,
      "reports" -> Map("duplicates" -> csvRows("reports/duplicates"),
        "missing_spatial" -> csvRows("reports/missing_spatial")),
      "fixtures" -> Map("eovs" -> jsonLen("eovs.json"), "users" -> jsonLen("users.json")),
      "derby" -> Derby.observe(url),
      "backup_rows" -> csvRows("backup/layers_layer_eovs"),
      "obis" -> Map("statements" -> obis.size,
        "null_in_obis" -> obis.count(_.contains("data_in_obis = null"))),
      "out_files" -> outFiles, "out_bytes" -> outBytes)
  }
}

/** Catalog passes over the sf0.1 tables through a `noop` sink. */
object Catalog {

  /** Order-free result digest: row count, wrapping sum of per-row
    * xxhash64 over the columns in name order (doubles rounded to 6
    * places, -0.0 folded into 0.0) and the canonical text's byte length.
    */
  def digest(df: DataFrame): Map[String, Long] = {
    val cols = df.columns.sorted.map { c =>
      val q = df.col(s"`$c`")
      val v = df.schema(c).dataType match {
        case DoubleType | FloatType =>
          val r = round(q.cast(DoubleType), 6)
          when(r === 0.0, lit(0.0)).otherwise(r).cast(StringType)
        case _ => q.cast(StringType)
      }
      coalesce(v, lit("\u0000"))
    }
    val row = if (cols.isEmpty) lit("") else concat_ws("\u0001", cols: _*)
    val r = df.select(row.as("r"))
      .agg(count(lit(1)).as("n"), sum(xxhash64(col("r"))).as("h"), sum(octet_length(col("r"))).as("b"))
      .collect().head
    Map("rows" -> r.getLong(0), "hash" -> (if (r.isNullAt(1)) 0L else r.getLong(1)),
      "bytes" -> (if (r.isNullAt(2)) 0L else r.getLong(2)))
  }

  /** Rows of a parquet table (a file or a directory of part files), from
    * the file footers: no Spark job runs before the untimed checking pass.
    */
  def parquetRows(table: Path): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    Files.walk(table).iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

  def run(a: Map[String, String]): Map[String, Any] = {
    val sf = a("sf"); val work = a("work")
    val seconds = a("seconds").toDouble
    val minRuns = a("min_runs").toInt
    val traced = a("trace") == "1"
    val seed = a("seed").toLong
    val names = a("queries").split(",").toSeq
    val byName = Queries.all.map(q => q.name -> q).toMap
    val qs = names.map(byName)
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    val tables = new File(sf).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val inRows = tables.map(t => parquetRows(t.toPath)).sum
    val inBytes = tables.map(t => Harness.treeStats(t.toPath)._2).sum
    // ---- set-up ends with one untimed pass in catalog order that also
    // makes the output check: every query's result digest
    val checks = qs.map { q =>
      q.name -> (try Harness.toJava(digest(q.fn(spark, sf)))
                 catch { case e: Throwable => Map("error" -> String.valueOf(e.getMessage)) })
    }.toMap
    val readyMs = System.currentTimeMillis()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var timed = 0.0
    var k = 0
    while (timed < seconds || passes.size < math.max(minRuns, if (traced) 2 else 1)) {
      val order = new Random(seed * 1000003L + k).shuffle(qs)
      val tr = new Tracer(enabled = traced && k % 2 == 1)
      Hooks.tracer = tr
      // GC time inside the timed executions only: the explicit collections
      // between queries are the harness's, not the program's
      var gcMs = 0L
      var failed = 0
      val times = order.map { q =>
        spark.catalog.clearCache()
        System.gc()
        val gc0 = Tracer.gcMs
        val t0 = System.nanoTime()
        try {
          val (t1, t2) = tr.span(q.name, Some(spark)) {
            val df = tr.span("build") { q.fn(spark, sf) }
            val t1 = System.nanoTime()
            tr.span("exec") { df.write.format("noop").mode("overwrite").save() }
            (t1, System.nanoTime())
          }
          Map("name" -> q.name, "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9, "s" -> (t2 - t0) / 1e9)
        } catch { case e: Throwable =>
          failed += 1
          Map("name" -> q.name, "error" -> String.valueOf(e.getMessage), "s" -> (System.nanoTime() - t0) / 1e9)
        } finally gcMs += Tracer.gcMs - gc0
      }
      val wall = times.map(_("s").asInstanceOf[Double]).sum
      val gcS = gcMs / 1e3
      Thread.sleep(100) // listener-bus drain before the counters are read
      Hooks.tracer = new Tracer(enabled = false)
      timed += wall
      passes += Map("wall_s" -> wall, "traced" -> tr.enabled, "failed" -> failed, "gc_s" -> gcS,
        "calls" -> times) ++
        (if (tr.enabled) Map("trace" -> Harness.traceSummary(tr, tr.spans.filter(_.parent < 0).toSeq)) else Map.empty)
      k += 1
    }
    Map("ready_ms" -> readyMs, "checks" -> checks, "runs" -> passes,
      "input_rows" -> inRows, "input_bytes" -> inBytes, "memory" -> Memory.summary)
  }

  /** Digests of a `graft.Verify` output directory (one parquet dir per
    * query) — how the catalog goldens are made.
    */
  def digestDir(a: Map[String, String]): Map[String, Any] = {
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    a("queries").split(",").map { q =>
      q -> Harness.toJava(digest(spark.read.parquet(s"${a("verify")}/$q")))
    }.toMap
  }
}
