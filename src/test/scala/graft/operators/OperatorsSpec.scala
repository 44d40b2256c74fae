package graft.operators

import graft.{GraftSession, SparkSpec, Tables}
import graft.ann.Ivf
import org.apache.spark.sql.functions._

import java.nio.file.Files

class OperatorsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("two-level top-k path returns the same rows as the single-window path") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sfDir, "embeddings")
    val q = emb.filter($"vec_id".isin(0, 1))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    // k=1200 crosses the two-level threshold (1000); compare against an
    // exact reference computed with searchOne (TakeOrdered) per query.
    val big = Knn.search(emb, q, "embedding", "vec_id", "L2", 1200)
      .select("qid", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val expected = Seq(0L, 1L).flatMap { qid =>
      val qv = emb.filter($"vec_id" === qid).select("embedding")
        .head().getSeq[Float](0)
      Knn.searchOne(emb, qv, "embedding", "vec_id", "L2", 1200)
        .select("vec_id").collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), i + 1) }
    }.sorted
    assert(big == expected)
  }

  test("single-query top-k plans as TakeOrderedAndProject, not a global sort") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sfDir, "embeddings")
    val qv = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0)
    val plan = Knn.searchOne(emb, qv, "embedding", "vec_id", "COSINE", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("two-level top-k plan: salted pre-prune window at k>=1000, absent at k=10") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sfDir, "embeddings")
    val q = emb.filter($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    def planFor(k: Int): String =
      Knn.search(emb, q, "embedding", "vec_id", "L2", k)
        .queryExecution.executedPlan.toString
    // "Window [" matches WindowExec nodes only (WindowGroupLimit prints
    // as "WindowGroupLimit [" and does not contain the substring).
    def windows(plan: String): Int = "Window \\[".r.findAllIn(plan).length
    val big = planFor(1200)
    assert(windows(big) == 2 && big.contains("_salt"),
      s"k=1200 should pre-prune per (qid, salt) then merge:\n$big")
    val small = planFor(10)
    assert(windows(small) == 1 && !small.contains("_salt"),
      s"k=10 must stay a single-window plan:\n$small")
  }

  test("ivf batched search: salted pre-prune window at k>=1000, absent at k=10") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sfDir, "embeddings")
    val model = Ivf.train(emb, "embedding", k = 4, sampleSize = 500)
    val assigned = Ivf.assign(emb, "embedding", model)
    val q = emb.filter($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    def planFor(k: Int): String =
      Ivf.search(assigned, model, q, "embedding", "vec_id", k, nprobe = 4)
        .queryExecution.executedPlan.toString
    def windows(plan: String): Int = "Window \\[".r.findAllIn(plan).length
    val big = planFor(1200)
    assert(windows(big) == 2 && big.contains("_salt"),
      s"k=1200 should pre-prune per (qid, salt) then merge:\n$big")
    val small = planFor(10)
    assert(windows(small) == 1 && !small.contains("_salt"),
      s"k=10 must stay a single-window plan:\n$small")
  }

  test("group-by plan: salted group pre-prune at k>=1000, absent at k=10") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sfDir, "embeddings")
    val q = emb.filter($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    def planFor(k: Int): String =
      Knn.searchGroupBy(emb, q, "embedding", "vec_id", "vec_id", "L2", k)
        .queryExecution.executedPlan.toString
    val big = planFor(1200)
    assert(big.contains("_gsalt"),
      s"k=1200 group-by should pre-prune per (qid, group-salt):\n$big")
    val small = planFor(10)
    assert(!small.contains("_gsalt"),
      s"k=10 group-by must skip the salted pre-prune:\n$small")
  }

  test("salted group-by path returns the same groups/ranks as the plain path") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sfDir, "embeddings")
    val q = emb.filter($"vec_id".isin(0, 1))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    // every row is its own group (500 groups); k=1200 crosses the
    // salted threshold, k=999 stays on the plain path — both must rank
    // all 500 groups identically, and identically to plain search.
    def run(k: Int) =
      Knn.searchGroupBy(emb, q, "embedding", "vec_id", "vec_id", "L2", k)
        .select("qid", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val salted = run(1200)
    assert(salted == run(999))
    val plain = Knn.search(emb, q, "embedding", "vec_id", "L2", 500)
      .select("qid", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(salted == plain)
  }

  test("IVF: assignment cells partition the data; probes cover the query cell") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sfDir, "embeddings")
    val model = Ivf.train(emb, "embedding", k = 8, sampleSize = 500)
    assert(model.centroids.length == 8)
    val assigned = Ivf.assign(emb, "embedding", model).cache()
    val cells = assigned.groupBy("_cid").count().collect()
    assert(cells.map(_.getLong(1)).sum == 500)
    assert(cells.length > 1, "k-means collapsed to one cell")
    // nprobe=k probes everything -> identical to exact search
    val qv = emb.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0)
    val exact = Knn.searchOne(emb, qv, "embedding", "vec_id", "L2", 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val full = Ivf.searchOne(assigned, model, qv, "embedding", "vec_id",
      k = 10, nprobe = 8).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(full == exact)
  }

  test("IVF recall@10 with nprobe=2 of 8 is usable and self-hit is found") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sfDir, "embeddings").cache()
    val model = Ivf.train(emb, "embedding", k = 8, sampleSize = 500)
    val assigned = Ivf.assign(emb, "embedding", model).cache()
    val queries = Seq(0L, 7L, 42L).map { id =>
      id -> emb.filter($"vec_id" === id).select("embedding").head().getSeq[Float](0)
    }
    val recall = Ivf.recallAtK(emb, assigned, model, queries,
      "embedding", "vec_id", k = 10, nprobe = 2)
    assert(recall >= 0.5, s"recall@10 nprobe=2: $recall")
    // the query's own vector is always in the probed cell
    queries.foreach { case (id, qv) =>
      val top1 = Ivf.searchOne(assigned, model, qv, "embedding", "vec_id",
        k = 1, nprobe = 1).select("vec_id").head().getLong(0)
      assert(top1 == id)
    }
  }

  test("IVF assignment persisted partitionBy(_cid) prunes partitions on probe") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sfDir, "embeddings")
    val model = Ivf.train(emb, "embedding", k = 8, sampleSize = 500)
    val out = Files.createTempDirectory("graft-ivf-disk").toString
    Ivf.assign(emb, "embedding", model)
      .write.partitionBy("_cid").mode("overwrite").parquet(out)
    val onDisk = s.read.parquet(out)
    val probed = onDisk.filter(col("_cid").isin(0, 3))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_cid"),
      s"probe filter did not become a partition filter:\n$plan")
    // pruned read returns exactly the probed cells' rows
    val expected = Ivf.assign(emb, "embedding", model)
      .filter(col("_cid").isin(0, 3)).count()
    assert(probed.count() == expected)
  }

  test("batched IVF search matches per-query single IVF searches") {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, sfDir, "embeddings").cache()
    val model = Ivf.train(emb, "embedding", k = 8, sampleSize = 500)
    val assigned = Ivf.assign(emb, "embedding", model).cache()
    val qids = Seq(0L, 7L, 42L)
    val q = emb.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val batched = Ivf.search(assigned, model, q, "embedding", "vec_id",
      k = 5, nprobe = 2)
      .select("qid", "vec_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val singles = qids.flatMap { qid =>
      val qv = emb.filter($"vec_id" === qid).select("embedding")
        .head().getSeq[Float](0)
      Ivf.searchOne(assigned, model, qv, "embedding", "vec_id",
        k = 5, nprobe = 2).select("vec_id").collect().zipWithIndex
        .map { case (r, i) => (qid.toString, r.getLong(0), i + 1) }
    }.sorted
    assert(batched == singles)
  }

  test("schema matrix YAML loads the reference's 2.6 manifest") {
    // The manifest ships as a test resource (rebuilt from the reference's
    // manifests/schema_matrix_2_6.yaml), so the suite needs no checkout
    // of the reference.
    val m = graft.store.SchemaMatrix.load(java.nio.file.Paths.get(
      getClass.getResource("/manifests/schema_matrix_2_6.yaml").toURI).toString)
    assert(m.version == "2.6")
    assert(m.entries.map(_.collection.name) == Seq(
      "scalar_dynamic_partition_key", "vector_autoid_bm25",
      "explicit_partitions_nullable"))
    val e1 = m.entries.head.collection
    assert(e1.enableDynamicField)
    assert(e1.numPartitions.contains(16))
    assert(e1.partitionKeyField.map(_.name).contains("partition_key"))
    assert(e1.fields.find(_.name == "embedding").flatMap(_.dim).contains(128))
    assert(e1.indexes.exists(ix => ix.field == "varchar_ngram" &&
      ix.params.get("min_gram").contains("2")))
    val e2 = m.entries(1)
    assert(e2.collection.primaryField.autoId)
    assert(e2.functions.exists(f => f.functionType == "BM25" &&
      f.outputFields == Seq("sparse_bm25")))
    // BM25 output fields are engine-computed -> nullable for inserts
    assert(e2.collection.fields.find(_.name == "sparse_bm25").exists(_.nullable))
    import org.apache.spark.sql.types._
    assert(e2.collection.fields.find(_.name == "sparse_manual")
      .map(_.dataType).contains(MapType(IntegerType, DoubleType)))
    assert(e2.collection.fields.find(_.name == "binary_ivf")
      .map(_.dataType).contains(BinaryType))
    val e3 = m.entries(2).collection
    assert(e3.partitions == Seq("p0", "p1", "p2", "p3"))
    assert(e3.primaryField.dataType == StringType)
  }

  test("group-by search: group_size>1 keeps per-group hits; groups ranked by best") {
    val s = spark
    import s.implicits._
    // group A has the 1st and 2nd best hits; group B the 3rd; group C far.
    val data = Seq(
      (1L, "A", Seq(1.0f, 0.0f)), (2L, "A", Seq(0.9f, 0.1f)),
      (3L, "B", Seq(0.5f, 0.5f)), (4L, "C", Seq(0.0f, 1.0f)),
      (5L, "B", Seq(0.4f, 0.6f)))
      .toDF("id", "grp", "vec")
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("qid", "qvec")
    val out = Knn.searchGroupBy(data, q, "vec", "id", "grp", "COSINE",
      k = 2, groupSize = 2)
      .select("grp", "id", "rank").orderBy("rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    // top-2 groups = A (best 1.0) then B; 2 hits each, group-contiguous
    assert(out == Seq(("A", 1L, 1), ("A", 2L, 2), ("B", 3L, 3), ("B", 5L, 4)))
    // default group_size=1 matches the original per-group-best semantics
    val one = Knn.searchGroupBy(data, q, "vec", "id", "grp", "COSINE", k = 3)
      .select("grp", "id").orderBy("rank").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(one == Seq(("A", 1L), ("B", 3L), ("C", 4L)))
  }

  test("multi-field group_by: constant second field degenerates to single-field") {
    val s = spark
    import s.implicits._
    val data = Seq(
      (1L, "A", 1L, Seq(1.0f, 0.0f)), (2L, "A", 1L, Seq(0.9f, 0.1f)),
      (3L, "B", 1L, Seq(0.5f, 0.5f)), (4L, "C", 1L, Seq(0.0f, 1.0f)))
      .toDF("id", "grp", "konst", "vec")
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("qid", "qvec")
    val single = Knn.searchGroupBy(data, q, "vec", "id", "grp", "COSINE", k = 3)
      .select("id", "rank").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val multi = Knn.searchGroupByMulti(data, q, "vec", "id",
      Seq("grp", "konst"), "COSINE", k = 3)
      .select("id", "rank").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(multi == single)
    // A genuinely composite key splits group A into two groups.
    val data2 = Seq(
      (1L, "A", 1L, Seq(1.0f, 0.0f)), (2L, "A", 2L, Seq(0.9f, 0.1f)),
      (3L, "B", 1L, Seq(0.5f, 0.5f)))
      .toDF("id", "grp", "konst", "vec")
    val split = Knn.searchGroupByMulti(data2, q, "vec", "id",
      Seq("grp", "konst"), "COSINE", k = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(split == Set(1L, 2L, 3L), "composite key must separate (A,1) and (A,2)")
  }

  test("aggregate output_fields route to one aggregation job") {
    val s = spark
    val orders = Tables.load(s, sfDir, "orders")
    val r = QueryOps.query(orders, None,
      Seq("min(o_totalprice)", "max(o_totalprice)", "count(*)"))
    assert(r.columns.toSeq ==
      Seq("min(o_totalprice)", "max(o_totalprice)", "count(*)"))
    val row = r.head()
    val exact = orders.agg(
      org.apache.spark.sql.functions.min("o_totalprice"),
      org.apache.spark.sql.functions.max("o_totalprice"),
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))).head()
    assert(row.getDouble(0) == exact.getDouble(0) &&
      row.getDouble(1) == exact.getDouble(1) &&
      row.getLong(2) == exact.getLong(2))
    // A mixed projection (plain column + aggregate-looking name absent)
    // stays on the scan path.
    val plain = QueryOps.query(orders, None, Seq("o_orderkey"), limit = Some(3))
    assert(plain.columns.toSeq == Seq("o_orderkey") && plain.count() == 3)
  }

  test("output_fields=[count(*)] routes to the count aggregate") {
    val s = spark
    val orders = Tables.load(s, sfDir, "orders")
    val r = QueryOps.query(orders,
      Some(org.apache.spark.sql.functions.col("o_orderstatus") === "F"),
      Seq("count(*)"))
    assert(r.columns.toSeq == Seq("count(*)"))
    assert(r.head().getLong(0) ==
      orders.filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F").count())
  }

  test("ANN self-join: cell-blocked join beats all-pairs with recall >= 0.95") {
    val s = spark
    val emb = Tables.load(s, sfDir, "embeddings")
    val n = emb.count()
    val k = 5
    val exact = Knn.search(emb,
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "embedding", "vec_id", "COSINE", k)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    var ann = Set.empty[(Long, Long)]
    var recall = 0.0
    for ((nlist, nprobe) <- Seq((16, 10), (16, 12), (32, 16), (32, 20), (32, 24))) {
      val model = Ivf.train(emb, "embedding", k = nlist, sampleSize = 2000,
        metric = "COSINE")
      ann = Ivf.selfJoin(emb, model, "embedding", "vec_id", k, nprobe = nprobe)
        .select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      recall = (ann intersect exact).size.toDouble / exact.size
      info(f"nlist=$nlist nprobe=$nprobe recall@$k = $recall%.4f over $n queries")
    }
    assert(recall >= 0.95, f"recall $recall%.4f below 0.95")
    // every query returns exactly k hits, and every query is present
    assert(ann.size.toLong == n * k)
    assert(ann.map(_._1).size.toLong == n)
    // self-hit always found (its own cell is probed)
    assert((0L until n).forall(i => ann.contains((i, i))))
  }

  test("query iterator pages the full scan exactly once, in pk order") {
    val s = spark
    val orders = Tables.load(s, sfDir, "orders")
    val it = new QueryIterator(orders, "o_orderkey", batchSize = 400)
    val seen = Iterator.continually(it.next()).takeWhile(_.nonEmpty)
      .flatten.map(_.getLong(0)).toVector
    assert(seen.length == orders.count())
    assert(seen == seen.sorted)
    assert(seen.distinct.length == seen.length)
  }

  test("query iterator scopes to partition_names with directory pruning") {
    import graft.store.{Catalog, Collection, CollectionDef, FieldDef}
    import org.apache.spark.sql.types.LongType
    val s = spark
    val cat = new Catalog(Files.createTempDirectory("graft-itpart").toString)
    val c = cat.createCollection(CollectionDef("itp", Seq(
      FieldDef("o_orderkey", LongType, nullable = false, isPrimary = true)),
      partitions = Seq("p0", "p1", "p2")))
    c.insert(s, Tables.load(s, sfDir, "orders").select("o_orderkey"))
    // pk % 3 routing: the p0+p2 scope is exactly the keys % 3 != 1.
    val it = QueryIterator.forCollection(s, c, batchSize = 500,
      partitionNames = Seq("p0", "p2"))
    val seen = Iterator.continually(it.next()).takeWhile(_.nonEmpty)
      .flatten.map(_.getLong(0)).toVector
    val expected = Tables.load(s, sfDir, "orders")
      .filter(col("o_orderkey") % 3 =!= 1)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toVector
    assert(seen == seen.sorted && seen == expected)
    // The iterator's pages scan the partition-scoped view: the scope
    // must arrive at the parquet scan as a PartitionFilter (directory
    // prune), not a post-scan row filter.
    val page = QueryOps.keysetPage(c.read(s, Seq("p0", "p2")),
      "o_orderkey", None, 500, None)
    val plan = page.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_part"),
      s"partition scope did not prune the iterator scan:\n$plan")
  }

  test("query iterator resumes from the checkpoint across instances") {
    val s = spark
    val orders = Tables.load(s, sfDir, "orders")
    val cp = Files.createTempDirectory("graft-it").resolve("cp.json").toString
    val it1 = new QueryIterator(orders, "o_orderkey", batchSize = 600,
      checkpointFile = Some(cp))
    val first = it1.next()
    assert(first.nonEmpty)
    // simulate a crash: new iterator, same checkpoint
    val it2 = new QueryIterator(orders, "o_orderkey", batchSize = 600,
      checkpointFile = Some(cp))
    val rest = Iterator.continually(it2.next()).takeWhile(_.nonEmpty)
      .flatten.map(_.getLong(0)).toVector
    val all = first.map(_.getLong(0)).toVector ++ rest
    assert(all.length == orders.count())
    assert(all.distinct.length == all.length, "resume must not re-read rows")
  }

  test("query iterator rejects a checkpoint from a different query") {
    val s = spark
    val orders = Tables.load(s, sfDir, "orders")
    val cp = Files.createTempDirectory("graft-it2").resolve("cp.json").toString
    val it1 = new QueryIterator(orders, "o_orderkey", batchSize = 100,
      filter = Some(col("o_orderstatus") === "F"), checkpointFile = Some(cp))
    it1.next()
    intercept[IllegalStateException] {
      new QueryIterator(orders, "o_orderkey", batchSize = 100,
        filter = Some(col("o_orderstatus") === "O"), checkpointFile = Some(cp))
    }
  }

  test("query iterator rejects a checkpoint from a different table (same shape)") {
    val s = spark
    val orders = Tables.load(s, sfDir, "orders")
    val cp = Files.createTempDirectory("graft-it3").resolve("cp.json").toString
    val it1 = new QueryIterator(orders.select(col("o_orderkey")),
      "o_orderkey", batchSize = 100, checkpointFile = Some(cp))
    it1.next()
    // a DIFFERENT table whose pk column shares the name and shape
    val other = Tables.load(s, sfDir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"))
    intercept[IllegalStateException] {
      new QueryIterator(other, "o_orderkey", batchSize = 100,
        checkpointFile = Some(cp))
    }
  }

  test("iterator exports batches to parquet files (S17)") {
    val s = spark
    val orders = Tables.load(s, sfDir, "orders")
    val out = Files.createTempDirectory("graft-export").toString
    val it = new QueryIterator(orders, "o_orderkey", batchSize = 300)
    val n = it.exportParquet(out, batchesPerFile = 2)
    assert(n == orders.count())
    val readBack = s.read.parquet(s"$out/part_*")
    assert(readBack.count() == n)
    assert(readBack.select("o_orderkey").distinct().count() == n)
  }

  test("direct export matches the iterator export and resumes mid-scan") {
    val s = spark
    val orders = Tables.load(s, sfDir, "orders")
    val out = Files.createTempDirectory("graft-export-d").toString
    val it = new QueryIterator(orders, "o_orderkey", batchSize = 300)
    // consume one page first: direct export must cover only the REST
    val first = it.next()
    val n = it.exportParquetDirect(out)
    assert(n == orders.count() - first.length)
    assert(!it.hasNext)
    val readBack = s.read.parquet(s"$out/part_*")
    assert(readBack.count() == n)
    val minExported = readBack.agg(min("o_orderkey")).head().getLong(0)
    assert(minExported > first.last.getLong(0),
      "exported rows must start after the consumed page")
  }

  test("sparse and binary single-query search route through typed metrics") {
    val s = spark
    import s.implicits._
    val sparse = Seq(
      (1L, Map(1 -> 2.0, 5 -> 1.0)), (2L, Map(1 -> 4.0)), (3L, Map(9 -> 7.0)))
      .toDF("id", "vec")
    val topSparse = Knn.searchOneSparse(sparse, Map(1 -> 1.0), "vec", "id", 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(topSparse == Seq((2L, 4.0), (1L, 2.0)))
    val bin = Seq(
      (1L, Array[Byte](0x0f, 0x00)), (2L, Array[Byte](0x0e, 0x00)),
      (3L, Array[Byte](-1, -1)))
      .toDF("id", "vec")
    val topBin = Knn.searchOneBinary(bin, Array[Byte](0x0f, 0x00), "vec", "id", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(topBin == Seq((1L, 0L), (2L, 1L)))
    // batched search on a sparse column with metric IP routes to sparse_ip
    val q = Seq((0L, Map(1 -> 1.0))).toDF("qid", "qvec")
    assert(Knn.search(sparse, q, "vec", "id", "IP", 2)
      .select("id", "rank").orderBy("rank")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 1L))
  }

  test("dimension mismatch is a hard error (reference schema dim validation)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "vec")
    val e = intercept[Exception] {
      df.select(graft.Functions.vecL2($"vec", lit(Array(1.0, 2.0, 3.0)))).collect()
    }
    assert(e.getMessage != null)
  }

  test("iterator honors filter and output fields") {
    val s = spark
    val orders = Tables.load(s, sfDir, "orders")
    val it = new QueryIterator(orders, "o_orderkey", batchSize = 1000,
      filter = Some(col("o_orderstatus") === "F"),
      outputFields = Seq("o_orderkey", "o_totalprice"))
    val rows = Iterator.continually(it.next()).takeWhile(_.nonEmpty).flatten.toVector
    val expected = orders.filter(col("o_orderstatus") === "F").count()
    assert(rows.length == expected)
    assert(rows.head.schema.fieldNames.toSeq == Seq("o_orderkey", "o_totalprice"))
  }
}
