package graft.store

import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** The index-type table: every declared `IndexDef` resolves here, once,
  * to the physical family that serves it, with its params parsed and
  * defaulted. [[IndexStore.materialize]], [[IndexStore.describe]] and
  * the search routes ([[graft.operators.CollectionSearch]]) all read
  * this one table, so create_index builds exactly the family a search
  * will serve.
  *
  * `pointerFamily` is the `current_<family>.json` pointer family the
  * type's own build commits (empty for types with no persisted build).
  * `ivfNlist` is the nlist of the IVF build that serves the type's
  * range, iterator and fallback routes — defined for every dense ANN
  * declaration (the triangle-inequality cell bounds need the IVF
  * layout).
  */
sealed abstract class IndexFamily(val pointerFamily: String,
    val ivfNlist: Option[Int] = None)

object IndexFamily {

  final case class IvfFlat(nlist: Int) extends IndexFamily("ivf2", Some(nlist))
  final case class IvfSq8(nlist: Int) extends IndexFamily("sq8v2", Some(nlist))
  /** Milvus parameterizes PQ codewords as `nbits` (ksub = 2^nbits). */
  final case class IvfPq(nlist: Int, m: Int, ksub: Int)
      extends IndexFamily("pqv1", Some(nlist))
  final case class IvfRabitq(nlist: Int)
      extends IndexFamily("rabitq2", Some(nlist))

  /** The persisted graph families (`segments = 0` auto-sizes). They
    * serve only where [[graphServed]] holds — otherwise the IVF build
    * at `nlist` does.
    */
  sealed abstract class Graph(family: String, nlist: Int)
      extends IndexFamily(family, Some(nlist))
  final case class Hnsw(m: Int, efConstruction: Int, segments: Int,
      seed: Long, nlist: Int) extends Graph("hnsw1", nlist)
  final case class Diskann(r: Int, l: Int, alpha: Double, segments: Int,
      nlist: Int) extends Graph("vamana1", nlist)

  final case class BinIvfFlat(nlist: Int) extends IndexFamily("binivf2")
  final case class Lsh(tables: Int, numPlanes: Int, seed: Long)
      extends IndexFamily("lsh2")
  final case class Sparse(buckets: Int, wand: Boolean)
      extends IndexFamily("sparse2")
  case object Bm25Text extends IndexFamily("bm25")
  final case class Rtree(cellSize: Double)
      extends IndexFamily(s"grid${cellSize.toString.replace('.', 'p')}")
  final case class JsonPath(path: String, castType: String, kind: String,
      bitmapCardinality: Int) extends IndexFamily(
    s"jp${kind.toLowerCase.take(1)}${(path.hashCode.toLong & 0xffffffffL).toString}")

  /** FLAT / BIN_FLAT and the scalar types: served by exact scans and
    * parquet min/max stats, no persisted build.
    */
  case object Exact extends IndexFamily("")

  def of(ix: IndexDef): IndexFamily = {
    val p = ix.params
    def int(keys: String*)(default: Int): Int =
      keys.flatMap(p.get).headOption.map(_.toInt).getOrElse(default)
    val nlist = int("nlist")(16)
    ix.indexType.toUpperCase match {
      case "IVF_SQ8"      => IvfSq8(nlist)
      case "IVF_PQ"       => IvfPq(nlist, int("m")(8),
        p.get("nbits").map(b => 1 << b.toInt).getOrElse(int("ksub")(256)))
      case "IVF_RABITQ"   => IvfRabitq(nlist)
      case "HNSW"         => Hnsw(int("M", "m")(8), int("efConstruction")(64),
        int("segments")(0), p.get("seed").map(_.toLong).getOrElse(42L), nlist)
      case "DISKANN"      => Diskann(int("R", "r")(16), int("L", "l")(64),
        p.get("alpha").map(_.toDouble).getOrElse(1.2), int("segments")(0),
        nlist)
      case t if t.startsWith("IVF") || t == "AUTOINDEX" || t == "SCANN" =>
        IvfFlat(nlist)
      case "BIN_IVF_FLAT" => BinIvfFlat(nlist)
      case "LSH" | "RHP_LSH" => Lsh(int("tables")(4), int("num_planes")(8),
        p.get("seed").map(_.toLong).getOrElse(42L))
      case t @ ("SPARSE_INVERTED_INDEX" | "SPARSE_WAND") =>
        Sparse(int("buckets")(64), wand = t == "SPARSE_WAND")
      case "BM25" | "INVERTED_TEXT" => Bm25Text
      case "RTREE"        =>
        Rtree(p.get("cell_size").map(_.toDouble).getOrElse(8.0))
      case "JSON_PATH"    => JsonPath(p.getOrElse("path", ""),
        p.getOrElse("cast", "string"), p.getOrElse("kind", "sort"),
        int("bitmap_cardinality")(1024))
      case _              => Exact
    }
  }

  /** The declared index on `field`, resolved (Exact when none). */
  def declared(d: CollectionDef, field: String): IndexFamily =
    d.indexes.find(_.field == field).map(of).getOrElse(Exact)

  /** Whether a graph declaration is served by its own graph build: the
    * graph ids are longs (an integral pk) and the walk scores a graph
    * metric. Otherwise the IVF build at the family's nlist serves it —
    * create_index and every search route decide this here.
    */
  def graphServed(d: CollectionDef, metric: String): Boolean =
    Set[DataType](LongType, IntegerType).contains(d.primaryField.dataType) &&
      Set("L2", "IP", "COSINE").contains(metric.toUpperCase)
}
