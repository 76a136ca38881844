package graft.functions

import graft.SparkSpec
import graft.operators.Aggregators
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Scalar-function unit tests + ScalaCheck-generator properties
  * (SURVEY §5.2/5.3): make_identifier, date edges, string helpers,
  * GeoJSON↔WKT, the ordered concat aggregator, and the kernel
  * expressions. (Properties sample Gen directly — the scalatest-plus
  * bridge isn't in the offline artifact cache.)
  */
class FunctionsSpec extends SparkSpec {

  /** Deterministic property loop: 200 samples from a Gen. */
  private def forAllSampled[A](gen: Gen[A], n: Int = 200)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  // ------------------------------------------------- make_identifier C14

  test("make_identifier: accents transliterate, dashes fold (reference names)") {
    assert(Identifier.makeIdentifier("Estación de Fotobiologia Playa Unión") ===
      "estacion_de_fotobiologia_playa_union")
    assert(Identifier.makeIdentifier("Ocean Tracking Network") === "ocean_tracking_network")
    assert(Identifier.makeIdentifier("A – B — well, C") === "a_b_well_c")
    assert(Identifier.makeIdentifier("L'étude (côtière) & Co.; x/y") === "letude_cotiere_co_xy")
  }

  test("make_identifier: >58 chars folds to first 29 + last 29 (index.Rmd:353-359)") {
    val long = "The Unbelievably Long Network Name For Monitoring Absolutely Everything In The Ocean"
    val id = Identifier.makeIdentifier(long)
    assert(id.length === 58)
    val full = long.toLowerCase.replaceAll("[\\s]+", "_")
    assert(id === full.substring(0, 29) + full.substring(full.length - 29))
  }

  test("make_identifier properties: ascii-safe charset, length ≤ 58") {
    forAllSampled(Gen.asciiStr.flatMap(a =>
      Gen.listOf(Gen.oneOf('é', 'ü', 'ñ', '–', ' ', 'x', '/', '.'))
        .map(extra => a + extra.mkString))) { s =>
      val id = Identifier.makeIdentifier(s)
      if (id != null) {
        assert(id.length <= 58)
        assert(!id.exists(c => c > 127), s"non-ascii survived in $id")
        assert(!id.exists(c => "()\":',&/.;".contains(c)), s"punct survived in $id")
      }
    }
  }

  // ----------------------------------------------------- dates C8/C9/C10

  test("yearStart/yearEnd edges: year, 'current', junk, null") {
    import spark.implicits._
    val df = Seq("1979", "current", "", "active", null, "2005")
      .toDF("y")
      .select(DateFunctions.yearStart(col("y")).as("s"),
        DateFunctions.yearEnd(col("y")).as("e"))
    val rows = df.collect().map(r => (Option(r.getDate(0)).map(_.toString),
      Option(r.getDate(1)).map(_.toString)))
    assert(rows(0) === (Some("1979-01-01"), Some("1979-12-31")))
    assert(rows(1) === (None, None))
    assert(rows(2) === (None, None))
    assert(rows(3) === (None, None))
    assert(rows(4) === (None, None))
    assert(rows(5) === (Some("2005-01-01"), Some("2005-12-31")))
  }

  test("splitRange: dash ranges, single tokens, 'since' prefixes") {
    import spark.implicits._
    val df = Seq("1979-current", "2011", "since 2005", "1990 - 1999")
      .toDF("t")
    val (s, e) = DateFunctions.splitRange(col("t"))
    val rows = df.select(s.as("s"), e.as("e")).collect()
      .map(r => (r.getString(0), Option(r.getString(1)).orNull))
    assert(rows(0) === ("1979", "current"))
    assert(rows(1) === ("2011", null))
    assert(rows(2) === ("since", "2005"))
    assert(rows(3) === ("1990", "1999"))
  }

  test("mutualNull property: after the transform, lat null ⟺ lon null (C12)") {
    import spark.implicits._
    val genPair = Gen.option(Gen.chooseNum(-90.0, 90.0))
      .flatMap(a => Gen.option(Gen.chooseNum(-180.0, 180.0)).map(b => (a, b)))
    val pairs = Seq.newBuilder[(Option[Double], Option[Double])]
    forAllSampled(genPair)(pairs += _)
    val df = pairs.result().toDF("lat", "lon")
    val (la, lo) = DateFunctions.mutualNull(col("lat"), col("lon"))
    df.select(la.as("lat"), lo.as("lon")).collect().foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
    }
  }

  // -------------------------------------------------------- strings C1-C21

  test("strTrunc yields exactly n chars with ellipsis (C4)") {
    import spark.implicits._
    val df = Seq("x" * 250, "short").toDF("s")
      .select(StringFunctions.strTrunc(col("s"), 200).as("t"))
    val rows = df.collect().map(_.getString(0))
    assert(rows(0).length === 200 && rows(0).endsWith("..."))
    assert(rows(1) === "short")
  }

  test("recode maps: every one of the 76 EuroSea pairs recodes correctly (C6)") {
    import spark.implicits._
    val pairs = graft.jobs.Recodes.euroseaFrequency.toSeq
    val df = pairs.map(_._1).toDF("k")
      .select(col("k"), StringFunctions.recode(col("k"),
        graft.jobs.Recodes.euroseaFrequency).as("v"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    pairs.foreach { case (k, v) => assert(got(k) === v, s"pair $k") }
    // passthrough for unmatched
    val pass = Seq("no such frequency").toDF("k")
      .select(StringFunctions.recode(col("k"), graft.jobs.Recodes.euroseaFrequency))
      .head().getString(0)
    assert(pass === "no such frequency")
  }

  // ----------------------------------------------------------- geo G4-G6

  test("WKT → GeoJSON → WKT roundtrips for every geometry type in the pipeline") {
    val cases = Seq(
      "POINT (1.5 -2)",
      "MULTIPOINT ((1 2), (3 4))",
      "LINESTRING (0 0, 1 1, 2 0)",
      "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 2))",
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))")
    cases.foreach { wkt =>
      val gj = GeoFunctions.wktToGeoJsonStr(wkt)
      assert(gj != null, s"wkt→geojson failed for $wkt")
      val back = GeoFunctions.geojsonToWktStr(gj)
      assert(back === wkt, s"roundtrip: $wkt → $gj → $back")
    }
    assert(GeoFunctions.wktToGeoJsonStr("GEOMETRYCOLLECTION EMPTY") ===
      """{"type":"GeometryCollection","geometries":[]}""")
  }

  /** Canonical WKT of every GeoJSON geometry type, coordinates printed
    * by the codec's formatter (2 or 3 ordinates, integral, fractional,
    * tiny and huge values). */
  private val wktGen: Gen[(String, String)] = {
    val coordinate = Gen.oneOf(Gen.chooseNum(-180.0, 180.0), Gen.chooseNum(-1e6, 1e6).map(math.rint),
      Gen.chooseNum(-1e-6, 1e-6), Gen.chooseNum(-1e300, 1e300))
      .map(GeoFunctions.formatCoordinate)
    val position = Gen.chooseNum(2, 3).flatMap(Gen.listOfN(_, coordinate)).map(_.mkString(" "))
    def some[A](min: Int, g: Gen[A]) = Gen.chooseNum(min, 4).flatMap(Gen.listOfN(_, g))
    def group(items: Seq[String]) = items.mkString("(", ", ", ")")
    val line = some(2, position).map(group)
    val polygon = some(1, some(4, position).map(group)).map(group)
    Gen.oneOf(
      position.map(p => (s"POINT ($p)", "Point")),
      some(1, position).map(ps => ("MULTIPOINT " + group(ps.map(p => s"($p)")), "MultiPoint")),
      line.map(l => ("LINESTRING " + l, "LineString")),
      some(1, line).map(ls => ("MULTILINESTRING " + group(ls), "MultiLineString")),
      polygon.map(p => ("POLYGON " + p, "Polygon")),
      some(1, polygon).map(ps => ("MULTIPOLYGON " + group(ps), "MultiPolygon")))
  }

  /** Runs a property on another thread, so that a hang fails it. */
  private def within(limit: FiniteDuration)(property: => Unit): Unit =
    Await.result(Future(property)(ExecutionContext.global), limit)

  test("generated geometries of every type survive WKT → GeoJSON → WKT") {
    within(2.minutes) {
      forAllSampled(wktGen, n = 500) { case (wkt, typ) =>
        val gj = GeoFunctions.wktToGeoJsonStr(wkt)
        assert(GeoFunctions.geojsonToWktStr(gj) === wkt, gj)
        assert(GeoFunctions.geojsonFeatures(gj) === Seq((wkt, typ)), gj)
      }
    }
  }

  test("every prefix of a FeatureCollection reads as all of its features or none") {
    within(2.minutes) {
      forAllSampled(Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, wktGen)), n = 60) { geoms =>
        val doc = geoms.map { case (wkt, _) =>
          s"""{"type":"Feature","properties":{"n":"a\\u00e9"},"geometry":${GeoFunctions.wktToGeoJsonStr(wkt)}}"""
        }.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
        assert(GeoFunctions.geojsonFeatures(doc) === geoms)
        (0 until doc.length).foreach { n =>
          val got = GeoFunctions.geojsonFeatures(doc.take(n))
          assert(got.isEmpty || got === geoms, doc.take(n))
        }
      }
    }
  }

  test("GeoJSON coordinates that are not positions invalidate the whole document") {
    def features(coordinates: String, typ: String = "Point") =
      GeoFunctions.geojsonFeatures(s"""{"type":"$typ","coordinates":$coordinates}""")
    // empty coordinates are the type's empty geometry, as geojson_sf reads them
    assert(features("[]") === Seq(("POINT EMPTY", "Point")))
    assert(features("[]", "MultiPolygon") === Seq(("MULTIPOLYGON EMPTY", "MultiPolygon")))
    Seq("[5]", "[true,false]", "[1,\"2\"]", "[1,null]", "[[1,2]]", "null", "5").foreach { c =>
      assert(features(c) === Nil, c)
      assert(GeoFunctions.geojsonToWktStr(s"""{"type":"Point","coordinates":$c}""") === null, c)
    }
    assert(features("[[0,0],[]]", "LineString") === Nil)
    assert(features("[[[0,0],[1,1]],[]]", "MultiLineString") === Nil)
    // one invalid feature empties the collection
    val fc = """{"type":"FeatureCollection","features":[""" +
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[1,2]}},""" +
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[3]}}]}"""
    assert(GeoFunctions.geojsonFeatures(fc) === Nil)
    // nesting past Jackson's limit is refused, not a StackOverflowError
    val deep = """{"type":"Point","coordinates":""" + "[" * 200000 + "]" * 200000 + "}"
    assert(GeoFunctions.geojsonFeatures(deep) === Nil)
    // what a hand-edited cell may hold: raw control characters, any
    // escaped character, lenient number forms; trailing text is ignored
    assert(GeoFunctions.geojsonFeatures("{\"type\":\"Point\",\"note\":\"a\tb\\q\",\"coordinates\":[+1,.5]} x") ===
      Seq(("POINT (1 0.5)", "Point")))
  }

  test("geojsonType sniffs FeatureCollections (G6)") {
    import spark.implicits._
    val fc = """{"type":"FeatureCollection","features":[{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,0]]]}}]}"""
    val df = Seq(fc, """{"type":"Point","coordinates":[1,2]}""").toDF("g")
      .select(GeoFunctions.geojsonType(col("g")).as("t"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("Polygon", "Point"))
  }

  // ------------------------------------------------------- aggregators

  test("OrderedConcatAgg: first-seen order, dedup keeps lowest key, squish") {
    val agg = new Aggregators.OrderedConcatAgg("; ")
    val items = Seq((5L, "b  b"), (1L, "a"), (3L, "b b"), (2L, null), (4L, "c"))
    // split across two buffers merged out of order
    val b1 = items.take(2).foldLeft(agg.zero)(agg.reduce)
    val b2 = items.drop(2).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(b2, b1)) === "a; b b; c")
  }

  test("TopKAgg: bounded buffer, deterministic ties") {
    val agg = new graft.operators.Similarity.TopKAgg(2)
    val xs = Seq(
      graft.operators.Similarity.Scored(1L, 0.5),
      graft.operators.Similarity.Scored(2L, 0.9),
      graft.operators.Similarity.Scored(3L, 0.9),
      graft.operators.Similarity.Scored(4L, 0.1))
    val buf = xs.foldLeft(agg.zero)(agg.reduce)
    assert(buf.items.length === 2)
    assert(agg.finish(buf).map(_.neighbor_id) === Seq(2L, 3L))
  }

  // ------------------------------------------------- kernels + registry

  test("dotProduct kernel and SQL registration (Exprs.registerAll)") {
    import spark.implicits._
    graft.plans.Exprs.registerAll(spark)
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT dot_product(a, b) AS d, cosine_sim(a, b) AS c FROM vecs").head()
    assert(math.abs(viaSql.getDouble(0) - 32.0) < 1e-9)
    val expectedCos = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(viaSql.getDouble(1) - expectedCos) < 1e-9)
    val viaCol = df.select(graft.plans.Exprs.dotProduct(col("a"), col("b"))).head().getDouble(0)
    assert(viaCol === 32.0)
  }

  test("simhash64 via SQL registry matches the kernel") {
    import spark.implicits._
    graft.plans.Exprs.registerAll(spark)
    val viaSql = Seq("hello world").toDF("t").createOrReplaceTempView("t1")
    val s1 = spark.sql("SELECT simhash64(t) FROM t1").head().getLong(0)
    val s2 = graft.plans.Kernels.simhash(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world"))
    assert(s1 === s2)
  }

  // ---------------------------------------------------------- text extras

  test("subwordCount, charTrigrams, fingerprint (TextFunctions)") {
    import spark.implicits._
    val df = Seq("Hello, world! 123").toDF("t")
    val row = df.select(
      TextFunctions.subwordCount(col("t")).as("sw"),
      TextFunctions.fingerprint(col("t")).as("fp")).head()
    // subwords: Hello , world ! 123 → 5 non-space pieces
    assert(row.getInt(0) === 5)
    // fingerprint: deterministic, equal for equal input
    val fp2 = Seq("Hello, world! 123").toDF("t")
      .select(TextFunctions.fingerprint(col("t"))).head().getLong(0)
    assert(row.getLong(1) === fp2)
    assert(row.getLong(1) !== Seq("different").toDF("t")
      .select(TextFunctions.fingerprint(col("t"))).head().getLong(0))
  }

  test("cleaning verbs: URLs stripped and counted, whitespace collapsed, control chars removed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("pre https://a.b/c   mid\thttp://d.e end\u0001x").toDF("t")
    val r = df.select(
      TextFunctions.urlCount(col("t")).as("n"),
      TextFunctions.normalizeWhitespace(TextFunctions.stripUrls(col("t"))).as("clean"),
      TextFunctions.stripControlChars(col("t")).as("noctrl")).head()
    assert(r.getInt(0) === 2)
    assert(r.getString(1) === "pre mid end\u0001x".replace("\u0001", "\u0001"))
    assert(!r.getString(2).contains("\u0001"))
    assert(r.getString(2).contains("\t"), "tab must survive control stripping")
  }

  test("URL verbs run through U+000B as RE2's \\S does") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val r = Seq("see http://a.b/c\u000Bd end", "http://a.b/c\u000Bhttp://d.e").toDF("t")
      .select(TextFunctions.stripUrls(col("t")), TextFunctions.urlCount(col("t")))
      .collect().map(row => (row.getString(0), row.getInt(1))).toSeq
    // the URL removed from the first text is `http://a.b/c\u000Bd`; the
    // second text is one URL, not two
    assert(r === Seq(("see  end", 1), ("", 1)))
  }

  test("text kernels match the original higher-order Column chains") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // adversarial inputs for the split(graft.plans.Kernels.WsRun) edge cases the kernels
    // must reproduce: leading/trailing spaces, non-space whitespace,
    // punctuation runs, empties
    val samples = Seq(
      "the quick brown fox", "  padded  with   spaces  ", "",
      " ", "\tleading tab", "tab\there", "line\nbreak two",
      "punct!!! heavy, (text); 50% off...", "123 456-789",
      "a", "a b", "the of and", "UPPER lower MiXeD",
      "trailing newline\n", "\n", "- - -", "a,b,c")
    val df = samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val legacy = df.select(col("id"),
      when(trim(col("text")) === "" || col("text").isNull, lit(0))
        .otherwise(size(split(trim(col("text")), graft.plans.Kernels.WsRun))).as("tc"),
      size(filter(split(col("text"), "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
        t => trim(t) =!= "")).as("sw"),
      (size(filter(split(lower(trim(col("text"))), graft.plans.Kernels.WsRun),
        t => t.isInCollection(TextFunctions.Stopwords))).cast("double") /
        greatest(size(split(lower(trim(col("text"))), graft.plans.Kernels.WsRun)), lit(1)).cast("double")).as("sr"),
      ((length(col("text")) - length(regexp_replace(col("text"), "[^A-Za-z0-9 \t\n\f\r]", "")))
        .cast("double") / greatest(length(col("text")), lit(1)).cast("double")).as("pr"),
      (aggregate(split(trim(col("text")), graft.plans.Kernels.WsRun), lit(0L), (acc, t) => acc + length(t))
        .cast("double") /
        greatest(size(split(trim(col("text")), graft.plans.Kernels.WsRun)), lit(1)).cast("double")).as("mtl"),
      aggregate(transform(split(col("text"), ""), ch => ascii(ch).cast("long")),
        lit(0L), (acc, c) => acc * lit(31L) + c).as("fp"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toMap
    val kernels = df.select(col("id"),
      TextFunctions.tokenCount(col("text")).as("tc"),
      TextFunctions.subwordCount(col("text")).as("sw"),
      TextFunctions.stopwordRatio(col("text")).as("sr"),
      TextFunctions.punctRatio(col("text")).as("pr"),
      TextFunctions.meanTokenLength(col("text")).as("mtl"),
      TextFunctions.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toMap
    samples.indices.foreach { i =>
      assert(kernels(i.toLong) === legacy(i.toLong),
        s"mismatch on ${samples(i).replace("\n", "\\n").replace("\t", "\\t")}")
    }
  }

  test("repeatedNgramFraction: brute-force equality and edge cases") {
    import spark.implicits._
    def brute(text: String, k: Int): Double = {
      val toks = text.toLowerCase.split(graft.plans.Kernels.WsRun).filter(_.nonEmpty).toSeq
      if (toks.isEmpty) return 0.0
      val total = math.max(toks.size - k + 1, 1)
      val grams = (0 until total).map(i => toks.slice(i, i + k).mkString(" "))
      (total - grams.distinct.size).toDouble / total
    }
    val samples = Seq(
      "the cat sat on the mat the cat sat again",
      "a a a a a a",                       // maximal repetition
      "one two three four",                // no repetition
      "single",                            // fewer tokens than k
      "  leading and trailing  ",
      "")
    val df = samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.repeatedNgramFraction(col("text"), 2).as("r2"),
        TextFunctions.repeatedNgramFraction(col("text"), 3).as("r3"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    samples.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) === ((brute(t, 2), brute(t, 3))), s"on '$t'")
    }
  }

  test("chunkTokens re-lines at exact token boundaries") {
    import spark.implicits._
    val df = Seq(
      (0L, "a b c d e"),          // n=2 → "a b\nc d\ne"
      (1L, "  One   TWO  three "), // normalization + odd whitespace
      (2L, "solo"),
      (3L, "")).toDF("id", "text")
    val got = df.select(col("id"),
        graft.plans.Exprs.chunkTokens(col("text"), 2).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) === "a b\nc d\ne")
    assert(got(1L) === "one two\nthree")
    assert(got(2L) === "solo")
    assert(got(3L) === "")
  }

  test("token kernels match scala brute force on generated adversarial strings") {
    import spark.implicits._
    // scalatestplus-scalacheck isn't in the offline cache; sample Gen
    // directly (the repo's established pattern)
    val charGen = org.scalacheck.Gen.frequency(
      (5, org.scalacheck.Gen.alphaNumChar),
      (3, org.scalacheck.Gen.oneOf(' ', ' ', '\t', '\n')),
      (1, org.scalacheck.Gen.oneOf('é', 'ß', '.', '-', '')))
    val strGen = org.scalacheck.Gen.chooseNum(0, 60)
      .flatMap(n => org.scalacheck.Gen.listOfN(n, charGen).map(_.mkString))
    val seed = org.scalacheck.rng.Seed(42L)
    val samples = Iterator.iterate((seed, List.empty[String])) { case (s, acc) =>
      val r = strGen.pureApply(org.scalacheck.Gen.Parameters.default, s)
      (s.next, r :: acc)
    }.drop(200).next()._2
    def toks(t: String): Seq[String] =
      t.toLowerCase.split(graft.plans.Kernels.WsRun).filter(_.nonEmpty).toSeq
    val df = samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select(col("id"),
        graft.plans.Exprs.scanTokens(col("text")).as("n"),
        graft.plans.Exprs.chunkTokens(col("text"), 3).as("ct"),
        graft.plans.Exprs.chunkWindows(col("text"), 4, 2).as("cw"),
        graft.plans.Exprs.topTokenShare(col("text")).as("tts"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getString(2), r.getSeq[String](3), r.getDouble(4))).toMap
    samples.zipWithIndex.foreach { case (t, i) =>
      val tk = toks(t)
      val wantChunk = tk.grouped(3).map(g =>
        g.mkString(" ")).mkString("\n")
      val starts = 0 until math.max(tk.size, 0) by 2
      val wantWin = starts.map(o => tk.slice(o, o + 4).mkString(" "))
      val wantTts = if (tk.isEmpty) 0.0
        else tk.groupBy(identity).values.map(_.size).max.toDouble / tk.size
      val (gn, gct, gcw, gtts) = got(i.toLong)
      // the alphabet exercises the engine ws class (RE2 \s) where it
      // DISAGREES with Java \s and Character.isWhitespace: VT (U+000B)
      // is a token char here (DuckDB regexp_matches(chr(11), '\s') is
      // false); NBSP is a token char everywhere
      assert(gn === tk.size, s"scanTokens on ${t.map(_.toInt)}")
      assert(gct === wantChunk, s"chunkTokens on ${t.map(_.toInt)}")
      assert(gcw === wantWin, s"chunkWindows on ${t.map(_.toInt)}")
      assert(gtts === wantTts, s"topTokenShare on ${t.map(_.toInt)}")
    }
  }

  test("jaroWinkler: pinned DuckDB battery + brute-force equality on generated pairs") {
    import spark.implicits._
    // values pinned from DuckDB jaro_winkler_similarity (the oracle engine)
    val battery = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("duane", "dwayne", 0.8400000000000001),
      ("CRATE", "TRACE", 0.7333333333333334),
      ("Supplier#000000013", "Customer#000000130", 0.7891737891737892), // odd-mismatch floor case
      ("ab", "ba", 0.0), ("x", "x", 1.0), ("", "abc", 0.0), ("", "", 0.0),
      ("ABC", "abc", 0.0))
    // independent scala brute force (floor-transposition rule)
    def brute(s1: String, s2: String): Double = {
      val (l1, l2) = (s1.length, s2.length)
      if (l1 == 0 || l2 == 0) return 0.0
      if (s1 == s2) return 1.0
      val win = math.max(l1, l2) / 2 - 1
      val m2 = new Array[Boolean](l2)
      val matched1 = scala.collection.mutable.ArrayBuffer[Char]()
      for (i <- 0 until l1) {
        val lo = math.max(0, i - win)
        val hi = math.min(l2, i + win + 1)
        var j = lo
        var hit = false
        while (j < hi && !hit) {
          if (!m2(j) && s2(j) == s1(i)) { m2(j) = true; matched1 += s1(i); hit = true }
          j += 1
        }
      }
      val m = matched1.size
      if (m == 0) return 0.0
      val matched2 = (0 until l2).filter(m2).map(s2)
      val t = matched1.zip(matched2).count { case (a, b) => a != b }
      val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - t / 2).toDouble / m) / 3.0
      if (jaro > 0.7) {
        val l = s1.zip(s2).take(4).takeWhile { case (a, b) => a == b }.size
        jaro + l * 0.1 * (1.0 - jaro)
      } else jaro
    }
    val rng = new scala.util.Random(11)
    def str() = (0 until rng.nextInt(12)).map(_ => "abcde# 01".charAt(rng.nextInt(9))).mkString
    val pairs = battery.map(p => (p._1, p._2)) ++ (0 until 400).map(_ => (str(), str()))
    val got = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("i", "a", "b")
      .select(col("i"), graft.plans.Exprs.jaroWinkler(col("a"), col("b")).as("jw"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    battery.zipWithIndex.foreach { case ((a, b, want), i) =>
      assert(got(i.toLong) === want, s"pinned ($a, $b)")
    }
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      assert(got(i.toLong) === brute(a, b), s"brute ($a, $b)")
    }
  }

  test("topTokenShare: map resize past 64 slots and exact share") {
    import spark.implicits._
    // 500 distinct tokens + one token 50 more times forces several
    // open-addressing grows (64 -> 1024) and a known exact share
    val longDoc = ((0 until 500).map(i => s"tok$i") ++ Seq.fill(50)("tok7"))
      .mkString(" ")
    val df = Seq((0L, longDoc), (1L, "x X x"), (2L, "")).toDF("id", "text")
    val got = df.select(col("id"),
        graft.plans.Exprs.topTokenShare(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(0L) === 51.0 / 550.0)
    assert(got(1L) === 1.0) // lowercased: all three are 'x'
    assert(got(2L) === 0.0)
  }

  test("chunkWindows: overlap, short tail, empty input") {
    import spark.implicits._
    val df = Seq((0L, "a b c d e f g"), (1L, "x"), (2L, "  ")).toDF("id", "text")
    val got = df.select(col("id"),
        graft.plans.Exprs.chunkWindows(col("text"), 3, 2).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // starts at 0,2,4,6 while < 7 tokens
    assert(got(0L) === Seq("a b c", "c d e", "e f g", "g"))
    assert(got(1L) === Seq("x"))
    assert(got(2L) === Seq.empty)
  }

  test("PII counts and redaction") {
    import spark.implicits._
    val df = Seq(
      (0L, "mail a.b@x.io or c_d%e@sub.domain.org today"),
      (1L, "host 10.0.0.1 and 255.255.255.255; version 1.2 is not an ip"),
      (2L, "call +1-555-0142 or +44-555-9999"),
      (3L, "clean text, nothing to scrub")).toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.emailCount(col("text")).as("e"),
        TextFunctions.ipv4Count(col("text")).as("i"),
        TextFunctions.phoneCount(col("text")).as("p"),
        TextFunctions.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(got(0L) === ((2, 0, 0, "mail <EMAIL> or <EMAIL> today")))
    assert(got(1L) === ((0, 2, 0,
      "host <IP> and <IP>; version 1.2 is not an ip")))
    assert(got(2L) === ((0, 0, 2, "call <PHONE> or <PHONE>")))
    assert(got(3L) === ((0, 0, 0, "clean text, nothing to scrub")))
  }

  test("blocklistHits: overlap-exact Aho-Corasick counts match a brute-force position scan") {
    import spark.implicits._
    val pats = Seq("aa", "ab", "abc", "b c", "zz")
    val texts = Seq(
      (0L, "aaa"),                 // "aa" overlaps itself: 2 hits
      (1L, "abcabc ab"),           // ab x3, abc x2 (nested patterns both fire)
      (2L, "xb cx AB"),            // phrase + case-insensitivity
      (3L, ""),                    // empty text
      (4L, "no matches here except a b c run"), // "b c" once
      (5L, "zzz aabc"))            // zz x2 overlap, aa, ab, abc
    val got = texts.toDF("id", "t")
      .select(col("id"), TextFunctions.blocklistHits(col("t"), pats).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def brute(t0: String): Seq[Long] = {
      val t = t0.toLowerCase
      val counts = pats.map { p =>
        (0 to t.length - p.length).count(i => t.regionMatches(i, p, 0, p.length)).toLong
      }
      Seq(counts.sum, counts.count(_ > 0).toLong)
    }
    texts.foreach { case (id, t) => assert(got(id) === brute(t), s"id $id") }
    assert(got(0L) === Seq(2L, 1L))
    assert(got(1L) === Seq(5L, 2L))
    assert(got(5L) === Seq(5L, 4L))
  }

  test("blocklistRedact: overlap-union coverage, maximal runs collapse, brute-force parity") {
    import spark.implicits._
    val pats = Seq("aa", "ab", "abc", "b c", "zz")
    val texts = Seq(
      (0L, "aaa"),                 // whole string covered → one mask
      (1L, "x abcabc y"),          // adjacent overlapping matches fuse
      (2L, "xb cx AB"),            // phrase + case (output is lowercased)
      (3L, ""),                    // empty text stays empty
      (4L, "clean text only"),     // untouched
      (5L, "zzz aabc tail"))       // leading zz-run + aabc block
    def brute(t0: String): String = {
      val t = t0.toLowerCase
      val cov = Array.fill(t.length)(false)
      for (p <- pats; i <- 0 to t.length - p.length
           if t.regionMatches(i, p, 0, p.length); j <- i until i + p.length)
        cov(j) = true
      val sb = new StringBuilder
      var i = 0
      while (i < t.length) {
        if (!cov(i)) { sb.append(t.charAt(i)); i += 1 }
        else { sb.append("<blocked>"); while (i < t.length && cov(i)) i += 1 }
      }
      sb.toString
    }
    val got = texts.toDF("id", "t")
      .select(col("id"), TextFunctions.blocklistRedact(col("t"), pats).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, t) => assert(got(id) === brute(t), s"id $id") }
    assert(got(0L) === "<blocked>")
    assert(got(1L) === "x <blocked> y")
    assert(got(2L) === "x<blocked>x <blocked>")
    assert(got(4L) === "clean text only")
  }

  test("blocklistHits is codegen'd and rejects malformed pattern sets") {
    import spark.implicits._
    val plan = Seq((1L, "x")).toDF("id", "t")
      .select(TextFunctions.blocklistHits(col("t"), Seq("a", "b")).as("h"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("ScalaUDF"))
    intercept[IllegalArgumentException] { TextFunctions.blocklistHits(col("t"), Seq.empty) }
    intercept[IllegalArgumentException] { TextFunctions.blocklistHits(col("t"), Seq("a", "A")) }
    intercept[IllegalArgumentException] { TextFunctions.blocklistHits(col("t"), Seq("")) }
  }

  test("r17 whitespace contract: every token kernel treats U+000B / " +
      "U+001C-U+001F / U+2028 / U+3000 as TOKEN characters (= DuckDB RE2 \\s)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.Kernels
    def u(t: String) = UTF8String.fromString(t)
    // each char below is Character.isWhitespace (and U+000B is even
    // Java-regex \s) yet NOT RE2 \s as shipped in DuckDB 1.0.0 — the
    // engine class must keep ALL of them inside tokens, in every
    // kernel of the family (the r16 verdict's named round-17 task)
    val gluers = Seq(0x000B, 0x001C, 0x001D, 0x001E, 0x001F,
                     0x2028, 0x2029, 0x3000, 0x2000, 0x1680).map(_.toChar)
    for (w <- gluers) {
      val g = s"A${w}b"        // ONE token under the engine class
      val t = s"$g c $g c"     // 4 tokens: [a<w>b, c, a<w>b, c]
      val lg = g.toLowerCase(java.util.Locale.ROOT)
      assert(Kernels.scanTokens(u(t)) === 4, s"scanTokens U+${w.toInt}")
      assert(Kernels.tokenCount(u(t)) === 4, s"tokenCount U+${w.toInt}")
      assert(Kernels.meanTokenLen(u(g)) === 3.0, s"meanTokenLen U+${w.toInt}")
      assert(Kernels.punctRatio(u(g)) === (1.0 / 3),
        s"punctRatio: U+${w.toInt} is NOT \\s, counts as punct")
      assert(Kernels.prefixTokens(u(t), 1).toString === lg,
        s"prefixTokens U+${w.toInt}")
      assert(Kernels.chunkTokens(u(t), 1).toString === s"$lg\nc\n$lg\nc",
        s"chunkTokens U+${w.toInt}")
      assert(Kernels.chunkTokensWs(u(t), 1).toString === s"$lg\nc\n$lg\nc",
        s"chunkTokensWs U+${w.toInt}")
      assert(Kernels.wsTokens(u(t)).numElements === 4, s"wsTokens U+${w.toInt}")
      assert(Kernels.chunkWindows(u(t), 2, 2).numElements === 2,
        s"chunkWindows U+${w.toInt}")
      assert(Kernels.topTokenShare(u(t)) === 0.5, s"topTokenShare U+${w.toInt}")
      assert(Kernels.termCounts(u(t)).numElements === 2, s"termCounts U+${w.toInt}")
      assert(Kernels.pairCounts(u(t)).numElements === 2,
        s"pairCounts: distinct pairs [lg c] and [c lg], U+${w.toInt}")
      assert(Kernels.termBuckets(u(t), 1024).numElements === 7,
        s"termBuckets: 4 unigrams + 3 bigrams, U+${w.toInt}")
      assert(Kernels.shingleHashes(u(t), 1).numElements === 2,
        s"shingleHashes k=1 distinct tokens, U+${w.toInt}")
      assert(Kernels.shingleHashesPos(u(t), 1).numElements === 4,
        s"shingleHashesPos U+${w.toInt}")
      // the glued pair must hash as ONE token everywhere: the same
      // text with the char REPLACED by a real separator hashes apart
      assert(Kernels.simhash(u(t)) !== Kernels.simhash(u("a b c a b c")),
        s"simhash must NOT split at U+${w.toInt}")
      assert(Kernels.minhash(u(t), 2, 8).toLongArray.toSeq !==
        Kernels.minhash(u("a b c a b c"), 2, 8).toLongArray.toSeq,
        s"minhash must NOT split at U+${w.toInt}")
      val wts = Array.tabulate(1024)(i => (i % 7) * 0.001)
      assert(Kernels.linearTextScore(u(t), wts) !==
        Kernels.linearTextScore(u("a b c a b c"), wts),
        s"linearTextScore must NOT split at U+${w.toInt}")
    }
  }

  test("r17 case-folding parity: Spark lower() and the kernels' " +
      "Locale.ROOT lowering agree on U+0130 / U+1E9E / U+03A3") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.Kernels
    // the three classic one-way foldings: U+0130 (Turkish dotted
    // capital I), U+1E9E (capital sharp s), U+03A3 (capital sigma —
    // context-sensitive final form in full case mapping). The kernels
    // lower via String.toLowerCase(Locale.ROOT); Spark's lower() must
    // agree or per-row metrics desync from kernel tokenization (r16
    // advisor low — the harness also pins the JVM default locale to
    // ROOT in SparkSpec/Verify/Bench). DuckDB boundary (pinned
    // empirically, documented in SCALE.md): lower(U+1E9E)=U+00DF and
    // non-final lower(U+03A3)=U+03C3 agree with the JVM; U+0130 does
    // NOT (DuckDB 'i' = 1 cp, JVM 'i'+U+0307 = 2 cp) and word-FINAL
    // U+03A3 does NOT (DuckDB simple mapping keeps U+03C3, the JVM's
    // full mapping emits final-form U+03C2) — so uppercase U+0130 and
    // U+03A3 never enter fabricated corpora; this fixture pins the
    // INTRA-ENGINE agreement that keeps Spark self-consistent.
    val words = Seq("İSTANBUL", "STRAẞE", "ΣOΦOΣ")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val sparkLower = df.select(col("id"), lower(col("text")).as("lo"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    words.zipWithIndex.foreach { case (w, i) =>
      val kernelLower = Kernels.prefixTokens(UTF8String.fromString(w), 1).toString
      assert(sparkLower(i.toLong) === kernelLower,
        s"Spark lower() vs kernel Locale.ROOT lowering on $w")
      assert(kernelLower === w.toLowerCase(java.util.Locale.ROOT))
    }
    // chunkTokensWs + shingleHashes run the same lowering: a document
    // whose only difference is pre-folded case hashes identically
    val a = UTF8String.fromString("STRAẞE ΣIGMA")
    val b = UTF8String.fromString("straße σigma")
    assert(Kernels.chunkTokensWs(a, 8).toString === Kernels.chunkTokensWs(b, 8).toString)
    assert(Kernels.shingleHashes(a, 2).toLongArray.toSeq ===
      Kernels.shingleHashes(b, 2).toLongArray.toSeq)
  }

  test("r18 case-boundary closure: Spark lower() on the case-twin " +
      "plantings equals the q79 oracle's pre-folded DuckDB form") {
    import spark.implicits._
    // q79's oracle folds the two divergent full-case mappings into the
    // text before DuckDB's simple-map lower(): İ → i+U+0307 and
    // word-final Σ → ς. This pins the ENGINE side of that contract:
    // Spark's lower() (JVM full mapping under the ROOT default pinned
    // in SparkSpec) produces exactly the strings the replaced oracle
    // lowers to — so a green q79 hash on the case twin
    // (tools/unicode_corpus.py <src> <dst> case) is engine evidence,
    // not coincidence. DuckDB-side pins (captured empirically,
    // duckdb 1.x): lower('İ')='i' (1 cp), lower('ΟΔΥΣΣΕΥΣ') keeps a
    // non-final 'σ' at word end.
    val df = Seq((0L, "before İstanbul ΟΔΥΣΣΕΥΣ"), (1L, "Σ alone ΑΣ end"))
      .toDF("id", "text")
    val lo = df.select(col("id"), lower(col("text")).as("lo"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lo(0L) === "before i\u0307stanbul οδυσσευς",
      "İ must full-lower to i+U+0307 and final Σ to ς")
    // standalone Σ (no preceding cased letter) is NOT final-form; ΑΣ is
    assert(lo(1L) === "σ alone ας end")
  }

  test("r17 tokenizer property: every kernel equals the WsRun-regex " +
      "model on random Unicode text (fixed fixtures generalized)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.Kernels
    def u(t: String) = UTF8String.fromString(t)
    // The reference model is built ONLY from Java-regex operations on
    // the explicit class Kernels.WsRun ([ \t\n\f\r]+) — an explicit
    // class means Java regex and DuckDB's RE2 agree char-for-char, so
    // "kernel == model" here IS the cross-engine tokenizer contract,
    // over arbitrary input rather than the fixed glue fixtures above.
    def lo(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    def refToks(s: String): Vector[String] =
      s.split(Kernels.WsRun).toVector.filter(_.nonEmpty)
    // Spark split(trim(s), WsRun) model: space-only trim, limit −1
    // (leading/trailing runs keep an empty token; all-space → [""])
    def refSplitTrimmed(s: String): Vector[String] = {
      val t = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      if (t.isEmpty) Vector("") else t.split(Kernels.WsRun, -1).toVector
    }
    def strings(a: org.apache.spark.sql.catalyst.util.ArrayData): Vector[String] =
      (0 until a.numElements).map(a.getUTF8String(_).toString).toVector
    def cp(s: String): Int = s.codePointCount(0, s.length)
    val weights = Array.tabulate(1024)(i => ((i * 37) % 11) * 0.01)
    // alphabet: engine separators, every char class where the OLD
    // splitters disagreed (VT, FS..US, LS/PS, ideographic/NBSP/ogham
    // spaces), ASCII alnum, non-ASCII lowercase-stable letters, punct
    val alphabet = Gen.frequency(
      (8, Gen.oneOf(' ', '\t', '\n', '\f', '\r')),
      (6, Gen.oneOf('\u000B', '\u001C', '\u001D', '\u001E', '\u001F',
        '\u2028', '\u2029', '\u3000', '\u00A0', '\u1680', '\u2008')),
      (20, Gen.alphaNumChar),
      (4, Gen.oneOf('ß', 'σ', 'é', 'ı', 'ж', 'ö')),
      (3, Gen.oneOf('.', ',', '/', '-', '_', '(', ')')))
    val genText = Gen.chooseNum(0, 80)
      .flatMap(n => Gen.listOfN(n, alphabet).map(_.mkString))
    val edges = Seq("", " ", "  \t\n", "\u000B", "a", " a ", "\ta\rb\n",
      "a\u2028b \u3000 c", "x".*(5))
    var checked = 0
    def checkOne(s: String): Unit = {
      checked += 1
      val raw = refToks(s)            // un-lowered tokens
      val lt = refToks(lo(s))         // lowered tokens (kernel order)
      val st = refSplitTrimmed(s)     // split(trim(s)) with empties
      assert(Kernels.scanTokens(u(s)) === raw.length, s"scanTokens '$s'")
      assert(Kernels.tokenCount(u(s)) ===
        (if (s.forall(_ == ' ')) 0 else st.length), s"tokenCount '$s'")
      assert(Kernels.meanTokenLen(u(s)) ===
        st.map(cp).sum.toDouble / math.max(st.length, 1), s"meanTokenLen '$s'")
      // punct model: code points surviving removal of alnum + engine ws
      assert(Kernels.punctRatio(u(s)) ===
        cp(s.replaceAll("[A-Za-z0-9 \t\n\f\r]", "")).toDouble / math.max(cp(s), 1),
        s"punctRatio '$s'")
      val stl = refSplitTrimmed(lo(s))
      assert(Kernels.stopwordRatio(u(s)) ===
        stl.count(TextFunctions.Stopwords.contains).toDouble / math.max(stl.length, 1),
        s"stopwordRatio '$s'")
      assert(strings(Kernels.wsTokens(u(s))) === lt, s"wsTokens '$s'")
      assert(Kernels.prefixTokens(u(s), 3).toString ===
        lt.take(3).mkString(" "), s"prefixTokens '$s'")
      assert(Kernels.chunkTokensWs(u(s), 3).toString ===
        lt.grouped(3).map(_.mkString(" ")).mkString("\n"), s"chunkTokensWs '$s'")
      assert(Kernels.chunkTokens(u(s), 3).toString ===
        Kernels.chunkTokensWs(u(s), 3).toString, s"chunkTokens alias '$s'")
      val windows = Iterator.range(0, lt.length, 2)
        .map(off => lt.slice(off, off + 4).mkString(" ")).toVector
      assert(strings(Kernels.chunkWindows(u(s), 4, 2)) === windows,
        s"chunkWindows '$s'")
      val tc = Kernels.termCounts(u(s))
      val tcMap = (0 until tc.numElements).map(i =>
        tc.keyArray.getUTF8String(i).toString -> tc.valueArray.getInt(i)).toMap
      assert(tcMap === lt.groupBy(identity).map { case (k, v) => k -> v.size },
        s"termCounts '$s'")
      val pc = Kernels.pairCounts(u(s))
      val pcMap = (0 until pc.numElements).map(i =>
        pc.keyArray.getUTF8String(i).toString -> pc.valueArray.getInt(i)).toMap
      val refPairs = lt.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toVector
      assert(pcMap === refPairs.groupBy(identity).map { case (k, v) => k -> v.size },
        s"pairCounts '$s'")
      assert(Kernels.termBuckets(u(s), 1024).numElements ===
        lt.length + math.max(0, lt.length - 1), s"termBuckets '$s'")
      assert(Kernels.shingleHashes(u(s), 1).numElements === lt.distinct.length,
        s"shingleHashes k=1 '$s'")
      assert(Kernels.shingleHashesPos(u(s), 1).numElements === lt.length,
        s"shingleHashesPos k=1 '$s'")
      assert(Kernels.topTokenShare(u(s)) === (if (lt.isEmpty) 0.0
        else lt.groupBy(identity).values.map(_.size).max.toDouble / lt.length),
        s"topTokenShare '$s'")
      // separator invariance: rejoining the raw tokens with plain
      // spaces must be invisible to every hash/score kernel (only
      // token CONTENT may matter, never which separator split them)
      val rejoined = raw.mkString(" ")
      assert(Kernels.simhash(u(s)) === Kernels.simhash(u(rejoined)),
        s"simhash separator invariance '$s'")
      assert(Kernels.minhash(u(s), 2, 8).toLongArray.toSeq ===
        Kernels.minhash(u(rejoined), 2, 8).toLongArray.toSeq,
        s"minhash separator invariance '$s'")
      assert(Kernels.shingleHashes(u(s), 3).toLongArray.toSeq ===
        Kernels.shingleHashes(u(rejoined), 3).toLongArray.toSeq,
        s"shingleHashes separator invariance '$s'")
      assert(Kernels.linearTextScore(u(s), weights) ===
        Kernels.linearTextScore(u(rejoined), weights),
        s"linearTextScore separator invariance '$s'")
    }
    edges.foreach(checkOne)
    forAllSampled(genText, n = 300)(checkOne)
    assert(checked >= 200, s"generator must actually produce samples, got $checked")
  }
}
