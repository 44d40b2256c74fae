package graft.operators

import graft.SparkSpec
import graft.store._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, StringType}

/** Pins the dense-search routing table: for every declared index type,
  * pk type and search-param shape, which persisted build family serves
  * [[CollectionSearch.search]] and [[CollectionSearch.searchBatch]]
  * (read back through `describe` and the family pointer files), and
  * that the two entry points return the same hits. Routes that are
  * exact by construction (no build, or the IVF family at full probe)
  * must also return the FLAT collection's hits.
  */
class RoutingTableSpec extends SparkSpec {

  private val dim = 8
  private val rows = 120
  private val nlist = "4"

  private def vectors(seed: Long, n: Int): Seq[Seq[Float]] = {
    val rng = new java.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)(rng.nextFloat()))
  }

  private val queries: Seq[(String, Seq[Float])] =
    vectors(7L, 2).zipWithIndex.map { case (v, i) => s"q$i" -> v }

  private def mkColl(cat: Catalog, name: String, pkType: DataType,
      ix: Option[IndexDef], firstPk: Long = 0L,
      seed: Long = 1L): Collection = {
    val c = cat.createCollection(CollectionDef(name, Seq(
      FieldDef("pk", pkType, nullable = false, isPrimary = true),
      FieldDef("tag", LongType),
      FieldDef("embedding", ArrayType(FloatType), dim = Some(dim))),
      indexes = ix.toSeq))
    val s = spark
    import s.implicits._
    val data = vectors(seed, rows).zipWithIndex.map { case (v, i) =>
      (firstPk + i, (i % 10).toLong, v)
    }.toDF("id", "tag", "embedding")
    val pkCol =
      if (pkType == StringType)
        org.apache.spark.sql.functions.format_string("doc_%03d",
          org.apache.spark.sql.functions.col("id"))
      else org.apache.spark.sql.functions.col("id")
    c.insert(spark, data.select(pkCol.as("pk"), data("tag"),
      data("embedding")))
    c
  }

  private def indexDef(t: String): IndexDef = IndexDef("embedding", t,
    Some("L2"), t match {
      case "IVF_PQ"            => Map("nlist" -> nlist, "m" -> "4", "nbits" -> "4")
      case "HNSW"              => Map("M" -> "4", "efConstruction" -> "16",
        "segments" -> "1", "nlist" -> nlist)
      case "DISKANN"           => Map("R" -> "4", "L" -> "16",
        "segments" -> "1", "nlist" -> nlist)
      case "LSH"               => Map("tables" -> "2", "num_planes" -> "4")
      case "FLAT"              => Map.empty
      case _                   => Map("nlist" -> nlist)
    })

  /** (case name, search params, filter). `nprobe`/`ef` equal or exceed
    * nlist, so the IVF family probes every cell.
    */
  private val cases: Seq[(String, Map[String, String], String)] = Seq(
    ("none", Map.empty, ""),
    ("nprobe", Map("nprobe" -> nlist), ""),
    ("ef", Map("ef" -> "16"), ""),
    ("radius", Map("radius" -> "1"), ""),
    ("band", Map("radius" -> "1", "range_filter" -> "0.5"), ""),
    ("filter", Map("nprobe" -> nlist), "tag < 5"))

  private val ivfRow = Seq("-", "ivf2", "ivf2", "ivf2", "ivf2", "ivf2")

  /** Expected serving family per case (order of [[cases]]); "-" means
    * no persisted build. The String-pk column differs only where the
    * graph families need an integral pk.
    */
  private val table: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("FLAT", Seq.fill(6)("-"), Seq.fill(6)("-")),
    ("IVF_FLAT", ivfRow, ivfRow),
    ("IVF_SQ8", Seq("-", "sq8v2", "sq8v2", "ivf2", "ivf2", "sq8v2"),
      Seq("-", "sq8v2", "sq8v2", "ivf2", "ivf2", "sq8v2")),
    ("IVF_PQ", Seq("-", "pqv1", "pqv1", "ivf2", "ivf2", "pqv1"),
      Seq("-", "pqv1", "pqv1", "ivf2", "ivf2", "pqv1")),
    ("IVF_RABITQ", Seq("-", "rabitq2", "rabitq2", "ivf2", "ivf2", "rabitq2"),
      Seq("-", "rabitq2", "rabitq2", "ivf2", "ivf2", "rabitq2")),
    // a small filter mask takes the exact masked scan, no graph build
    ("HNSW", Seq("-", "hnsw1", "hnsw1", "ivf2", "ivf2", "-"), ivfRow),
    ("DISKANN", Seq("-", "vamana1", "vamana1", "ivf2", "ivf2", "-"), ivfRow),
    ("AUTOINDEX", ivfRow, ivfRow),
    // LSH reads a bare `radius` as its multiprobe budget
    ("LSH", Seq("lsh2", "lsh2", "lsh2", "lsh2", "-", "lsh2"),
      Seq("lsh2", "lsh2", "lsh2", "lsh2", "-", "lsh2")))

  private def families(cat: Catalog, name: String): Set[String] = {
    val dir = new java.io.File(cat.root, s"$name/index/embedding")
    Option(dir.listFiles()).toSeq.flatten.map(_.getName)
      .filter(n => n.startsWith("current_") && n.endsWith(".json"))
      .map(_.stripPrefix("current_").stripSuffix(".json")).toSet
  }

  private def hits(df: DataFrame): Seq[(String, String, Double)] =
    df.select("qid", "pk", "score").collect().map(r =>
      (r.getString(0), String.valueOf(r.get(1)),
        math.rint(r.getDouble(2) * 1e6))).sorted.toSeq

  private def single(c: Collection, params: Map[String, String],
      filter: String): Seq[(String, String, Double)] =
    queries.flatMap { case (qid, qv) =>
      hits(CollectionSearch.search(spark, c, "embedding", qv, 5, filter,
        params).withColumn("qid", org.apache.spark.sql.functions.lit(qid)))
    }.sorted

  private def batch(c: Collection, params: Map[String, String],
      filter: String): Seq[(String, String, Double)] =
    hits(CollectionSearch.searchBatch(spark, c, "embedding", queries, 5,
      filter, params))

  private def checkTable(pkType: DataType): Unit = {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-routes").toString)
    val flat = mkColl(cat, "exact_ref", pkType, Some(indexDef("FLAT")))
    val exact = cases.map { case (cn, params, filter) =>
      cn -> single(flat, params, filter) }.toMap
    table.foreach { case (t, longRow, stringRow) =>
      val expected = if (pkType == StringType) stringRow else longRow
      val name = t.toLowerCase
      val c = mkColl(cat, name, pkType, Some(indexDef(t)))
      cases.zip(expected).foreach { case ((cn, params, filter), fam) =>
        val label = s"$t/$pkType/$cn"
        IndexStore.drop(c, "embedding")
        val one = single(c, params, filter)
        val want = if (fam == "-") Set.empty[String] else Set(fam)
        assert(families(cat, name) == want, s"$label: search families")
        assert(IndexStore.describe(c, "embedding")
          .map(_("build_kind").takeWhile(ch => ch != '-' && ch != '_'))
          == want.headOption, s"$label: describe")
        assert(batch(c, params, filter) == one, s"$label: batch != search")
        assert(families(cat, name) == want, s"$label: batch families")
        if (fam == "-" || fam == "ivf2")
          assert(one == exact(cn), s"$label: != FLAT")
      }
    }
  }

  test("routing table: every declared index type with an INT64 pk") {
    checkTable(LongType)
  }

  test("routing table: every declared index type with a VARCHAR pk") {
    checkTable(StringType)
  }

  test("drop + recreate a same-name collection serves the new corpus") {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-recreate").toString)
    Seq("IVF_FLAT", "IVF_SQ8", "IVF_PQ", "IVF_RABITQ", "HNSW", "DISKANN")
      .foreach { t =>
        val params = Map("nprobe" -> nlist)
        val old = mkColl(cat, "reborn", LongType, Some(indexDef(t)))
        assert(batch(old, params, "").forall(_._2.toLong < rows), t)
        cat.dropCollection("reborn")
        // Same name, same write-seq, different pks and vectors: a build
        // cached under the old incarnation would serve pks < rows.
        val fresh = mkColl(cat, "reborn", LongType, Some(indexDef(t)),
          firstPk = 1000L, seed = 2L)
        val got = batch(fresh, params, "")
        assert(got.nonEmpty && got.forall(_._2.toLong >= 1000L),
          s"$t served the dropped corpus: $got")
        assert(single(fresh, params, "") == got, t)
        cat.dropCollection("reborn")
      }
  }

  test("create_index HNSW on a VARCHAR pk builds the family search serves") {
    val cat = new Catalog(
      java.nio.file.Files.createTempDirectory("graft-varchar-hnsw").toString)
    val c = mkColl(cat, "docs", StringType, None)
    c.createIndex(spark, IndexDef("embedding", "HNSW", Some("L2")))
    val built = IndexStore.describe(c, "embedding")
    assert(built.isDefined, "create_index left no persisted build")
    // The default nlist is 16, so ef=16 probes every cell: exact.
    val got = single(c, Map("ef" -> "16"), "")
    assert(IndexStore.describe(c, "embedding") == built,
      "search rebuilt instead of serving the create_index build")
    val flat = mkColl(cat, "flat", StringType, Some(indexDef("FLAT")))
    assert(got.map(h => (h._1, h._2)) ==
      single(flat, Map.empty, "").map(h => (h._1, h._2)))
  }
}
