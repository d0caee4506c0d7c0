package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuilder

/** The driver side of the size-gated graph operators.
  *
  * On a small graph every distributed round is fixed job overhead, not
  * data. `Dedup.connectedComponents` and Graph's pageRank,
  * personalizedPageRank, labelPropagation and triangleCounts share one
  * budget ([[maxEdges]]): at or under it they [[collect]] their
  * deduplicated edge frame once, run on primitive arrays, and return a
  * frame with the distributed path's columns and types. This object owns the gate, the collector and the id
  * order; the callers own their kernels.
  *
  * The id order: node ids map to dense indices in Spark's ascending order
  * for the id type (UTF-8 byte order for strings), so "sorted by id" is
  * "sorted by index" and "smallest id" is "smallest index" in every
  * kernel. A null endpoint is index -1: the distributed equi-joins never
  * match it, and the kernels skip it the same way. */
object DriverGraph {

  /** The driver budget in edges: heap/3200, clamped to [65k, 16M]. That
    * is 1/16 of the heap at 200 B/edge, a margin over the collector's
    * peak for integral ids (about 56 B/edge: the collected long endpoints,
    * their sorted copy, the int endpoints and their remap, and the two
    * index arrays); the cap bounds driver wall time on huge heaps.
    * Resolved at call time so `-Xmx` changes take effect. */
  def maxEdges(): Long = maxEdgesFor(Runtime.getRuntime.maxMemory())

  /** [[maxEdges]] for a heap of `heapBytes`. */
  private[graft] def maxEdgesFor(heapBytes: Long): Long =
    math.min(16000000L, math.max(65536L, heapBytes / 3200L))

  private[operators] def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** A collected edge frame: `keys` (an `Array[Long]` for integral ids,
    * an `Array[UTF8String]` for strings) holds the distinct ids in
    * ascending order, and edge `i` runs from index `src(i)` to `dst(i)`. */
  final class LocalGraph private[DriverGraph] (val spark: SparkSession,
      val node: StructField, keys: Array[_], val hasNull: Boolean,
      val src: Array[Int], val dst: Array[Int]) {
    def nNodes: Int = keys.length

    /** The id at index `v`, as a value of `node`'s type. */
    def id(v: Int): Any = idValue(keys, node.dataType, v)

    /** In-edges grouped by destination, sources ascending, over edges
      * with both endpoints non-null: (offsets, sources). */
    def inEdges: (Array[Int], Array[Int]) = {
      val packed = src.indices.iterator.filter(i => src(i) >= 0 && dst(i) >= 0)
        .map(i => (dst(i).toLong << 32) | src(i)).toArray
      java.util.Arrays.sort(packed)
      val off = new Array[Int](nNodes + 1)
      packed.foreach(k => off((k >>> 32).toInt + 1) += 1)
      for (v <- 0 until nNodes) off(v + 1) += off(v)
      (off, packed.map(_.toInt))
    }

    /** The indices of the non-null ids in `ids`' one column that are
      * nodes here, distinct and ascending: absent ids drop, as through an
      * equi-join. The column is read as [[collect]] reads an endpoint, so
      * its type must be `node`'s, or integral when `node`'s is. */
    def indicesOf(ids: DataFrame): Array[Int] = {
      val read = if (integral(node.dataType)) LongType else node.dataType
      val found = ids.toDF("id").select(col("id").cast(read)).distinct().collect()
        .filter(!_.isNullAt(0)).map(r => keys match {
          case k: Array[Long] => java.util.Arrays.binarySearch(k, r.getLong(0))
          case k: Array[UTF8String] => java.util.Arrays.binarySearch(
            k.asInstanceOf[Array[AnyRef]], UTF8String.fromString(r.getString(0)))
        }).filter(_ >= 0)
      java.util.Arrays.sort(found)
      found
    }

    def frame(schema: StructType, rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

    /** (id, component) for every node: union-find on the index arrays,
      * each set rooted at its smallest index, so the component label is
      * the smallest id (the distributed star loop's label). The rows
      * stream off a broadcast of the keys and labels, with no Row per node
      * on the driver: the node count can reach twice the edge cap. */
    def components(): DataFrame = {
      require(!hasNull, "components: null endpoints")
      val parent = Array.range(0, nNodes)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      for (i <- src.indices) {
        val (a, b) = (find(src(i)), find(dst(i)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
      for (v <- parent.indices) parent(v) = find(v)
      val bc = spark.sparkContext.broadcast((keys, parent))
      val t = node.dataType
      val rows = spark.sparkContext.parallelize(0 until nNodes, math.max(1, nNodes / 250000))
        .map { v =>
          val (k, label) = bc.value
          Row(idValue(k, t, v), idValue(k, t, label(v)))
        }
      spark.createDataFrame(rows,
        StructType(Seq(StructField("id", t), StructField("component", t))))
    }
  }

  private def idValue(keys: Array[_], t: DataType, v: Int): Any = keys match {
    case k: Array[Long] => t match {
      case ByteType => k(v).toByte
      case ShortType => k(v).toShort
      case IntegerType => k(v).toInt
      case _ => k(v)
    }
    case k: Array[UTF8String] => k(v).toString
  }

  /** Collects `e` (two id columns, already deduplicated and counted at
    * `nEdges`) when the count fits `maxDriverEdges` and the id type has a
    * driver order here (integral types; strings under the default
    * UTF8_BINARY collation), freeing `e`'s cache; otherwise None and the
    * caller runs its distributed path. Both columns are read as `node`'s
    * type. One job, and no Row or tuple per edge: each partition ships its
    * ids (a long array for integral ids, a dictionary of its distinct
    * `UTF8String`s for strings) and its endpoints as int indices into them
    * (-1 for a null); the driver sorts the distinct ids and remaps the
    * indices. */
  def collect(e: DataFrame, node: StructField, nEdges: Long,
      maxDriverEdges: Long): Option[LocalGraph] = {
    val isString = node.dataType match {
      case s: StringType => s.collationId == StringType.collationId
      case _ => false
    }
    if (!(integral(node.dataType) || isString) || nEdges > maxDriverEdges) return None
    val rows = e.select(e.columns.toSeq.map(c =>
      col(c).cast(if (isString) node.dataType else LongType)): _*).queryExecution.toRdd
    val (keys, parts) = if (isString) stringIds(rows) else longIds(rows)
    e.unpersist(false)
    val n = parts.iterator.map(_._2.length).sum / 2
    val (src, dst) = (new Array[Int](n), new Array[Int](n))
    var (i, hasNull) = (0, false)
    for ((remap, ends) <- parts; k <- ends.indices by 2) {
      hasNull ||= ends(k) < 0 || ends(k + 1) < 0
      src(i) = if (ends(k) < 0) -1 else remap(ends(k))
      dst(i) = if (ends(k + 1) < 0) -1 else remap(ends(k + 1))
      i += 1
    }
    Some(new LocalGraph(e.sparkSession, node, keys, hasNull, src, dst))
  }

  /** The sorted distinct ids, and per partition (each shipped id's index
    * into them, its endpoints as indices into the shipped ids). */
  private type Ids[A] = (Array[A], Array[(Array[Int], Array[Int])])

  /** The index of a row's non-null id in column `c` among the partition's
    * shipped ids. A trait, not a `(InternalRow, Int) => Int`: `Function2`
    * is not specialized for an object argument, so it would box the
    * column and the result once per endpoint. */
  private trait Indexer { def apply(r: InternalRow, c: Int): Int }

  /** Endpoints in row order, (src, dst) interleaved: -1 for a null, else
    * `id(row, column)`. */
  private def endpoints(it: Iterator[InternalRow])(id: Indexer): Array[Int] = {
    val ends = new ArrayBuilder.ofInt
    it.foreach(r => for (c <- 0 to 1) ends.addOne(if (r.isNullAt(c)) -1 else id(r, c)))
    ends.result()
  }

  /** Integral ids: each partition ships its non-null endpoint values as
    * they come; the driver sorts them all once and binary-searches each. */
  private def longIds(rows: RDD[InternalRow]): Ids[Long] = {
    val parts = rows.mapPartitions { it =>
      val vals = new ArrayBuilder.ofLong
      val ends = endpoints(it) { (r, c) => vals.addOne(r.getLong(c)); vals.length - 1 }
      Iterator((vals.result(), ends))
    }.collect()
    val all = Array.concat(parts.map(_._1): _*)
    java.util.Arrays.sort(all)
    var n = 0
    for (i <- all.indices if n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
    val keys = java.util.Arrays.copyOf(all, n)
    (keys, parts.map { case (vals, ends) => (vals.map(java.util.Arrays.binarySearch(keys, _)), ends) })
  }

  /** String ids: dictionaries by hash (a UTF8String hashes and equals on
    * its bytes); only the distinct ids are sorted, and UTF8String compares
    * as unsigned bytes: Spark's order for default-collation strings. */
  private def stringIds(rows: RDD[InternalRow]): Ids[UTF8String] = {
    val parts = rows.mapPartitions { it =>
      val seen = new java.util.HashMap[UTF8String, Integer]()
      val ends = endpoints(it) { (r, c) =>
        val s = r.getUTF8String(c)
        val j = seen.get(s)
        if (j != null) j.intValue
        else { seen.put(s.clone(), seen.size); seen.size - 1 } // the row's buffer is reused: copy
      }
      val dict = new Array[UTF8String](seen.size)
      seen.forEach((s, j) => dict(j) = s)
      Iterator((dict, ends))
    }.collect()
    val keys = parts.flatMap(_._1).distinct
    java.util.Arrays.sort(keys.asInstanceOf[Array[AnyRef]])
    val index = new java.util.HashMap[UTF8String, Integer](keys.length * 2)
    keys.indices.foreach(i => index.put(keys(i), i))
    (keys, parts.map { case (dict, ends) => (dict.map(index.get(_).intValue), ends) })
  }
}
