package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Bounded driver-local execution of the iterative graph fixpoints for
  * SMALL graphs: the rank family (its loops live in [[RankPropagation]] and
  * [[Hits]]), BFS, k-core and connected components (its union-find lives in
  * [[ConnectedComponents]]), plus the k-means and perceptron fits — the
  * `Bpe.learnMerges` discipline applied to the whole iterative family.
  *
  * Why: each distributed round of these algorithms costs a fixed scheduler
  * floor (one or two slim shuffles + a localCheckpoint materialization).
  * On a real 10^12-edge graph that floor amortizes to nothing; on the small
  * graphs the operators ALSO legitimately meet (post-aggregation host
  * graphs, dup-pair components, alias clusters — pair mining and rollups
  * shrink the data by orders of magnitude before the fixpoint runs), ten
  * rounds of scheduler floor dominate the query. So: once the input is
  * materialized, ONE gate, [[collectSmall]], decides for every operator. It
  * counts the collected rows — for k-core and connected components, whose
  * frames hold both directions, the undirected edges — against
  * `spark.graft.localIterMaxEdges` (default 200k — a few MB on the driver).
  * At or under the bound the fixpoint runs as a driver-local loop over the
  * collected rows with the IDENTICAL exact integer arithmetic; above it the
  * distributed path runs untouched. Empty inputs always stay distributed,
  * so bound 0 forces the distributed path in every operator, the
  * perceptron included.
  *
  * Bit-exactness contract (parity-gated in LocalIterParitySpec and
  * LocalFitParitySpec): every algorithm here uses only exact Long
  * arithmetic (sums are associative and commutative — accumulation order
  * cannot matter; all division operands
  * are positive, so JVM `/` is the SQL `div` floor) and, where an ordering
  * is needed (component minima), compares strings in UTF-8 BYTE order —
  * Spark's UTF8String binary ordering, which differs from Java's UTF-16
  * `compareTo` for supplementary code points. */
object LocalIter {

  /** Edge-count bound for the driver-local path. Collected rows are slim
    * (2-3 fields); 200k edges ≈ single-digit MB — far under the driver
    * heap, and the same order as the other bounded driver collects in this
    * repo (Bpe pair stats, IVF centroid fits). */
  private def maxEdges(spark: SparkSession): Long =
    spark.conf.get("spark.graft.localIterMaxEdges", "200000").toLong

  /** The one local-vs-distributed gate: the rows of the frame `e` (a
    * materialized edge set, or a slim projection whose count is a pruned
    * scan) when it holds at most `rowsPerEdge` × the bound rows (2 for edge
    * frames that carry both directions of every undirected edge), else
    * None. Empty frames stay distributed, so bound 0 forces the distributed
    * path for every input. */
  def collectSmall(e: DataFrame, rowsPerEdge: Int = 1): Option[Array[Row]] = {
    val n = e.count() // a cheap scan: materialized rows, or a pruned projection
    if (n > 0 && n <= rowsPerEdge * maxEdges(e.sparkSession)) Some(e.collect()) else None
  }

  /** Spark-semantics ordering for the node types these graphs carry:
    * strings compare as unsigned UTF-8 bytes, integral types naturally.
    * None for types we don't model — callers stay distributed then. */
  def orderingFor(dt: DataType): Option[Ordering[Any]] = dt match {
    case StringType => Some(new Ordering[Any] {
      def compare(x: Any, y: Any): Int =
        utf8Compare(x.asInstanceOf[String], y.asInstanceOf[String])
    })
    case LongType => Some(Ordering.Long.on[Any](_.asInstanceOf[Long]))
    case IntegerType => Some(Ordering.Int.on[Any](_.asInstanceOf[Int]))
    case _ => None
  }

  /** Unsigned byte-wise comparison of the UTF-8 encodings. */
  def utf8Compare(a: String, b: String): Int = {
    val xa = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val xb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(xa.length, xb.length)
    while (i < n) {
      val d = (xa(i) & 0xff) - (xb(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    xa.length - xb.length
  }

  def localDf(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)

  /** src ∪ dst in first-seen order (order is irrelevant to every consumer —
    * the driver sorts — but LinkedHashSet keeps runs reproducible). */
  def nodeSet(edges: Array[(Any, Any)]): java.util.LinkedHashSet[Any] = {
    val set = new java.util.LinkedHashSet[Any]()
    edges.foreach { case (s, d) => set.add(s); set.add(d) }
    set
  }

  /** Evaluate a Catalyst predicate over a local node relation — the same
    * expression semantics (md5, substring, …) the distributed path applies
    * to its node frame, at LocalRelation cost. */
  def evalSeeds(spark: SparkSession, nodeType: DataType,
                nodes: java.util.LinkedHashSet[Any], pred: Column): Set[Any] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    nodes.forEach(nd => rows += Row(nd))
    localDf(spark, StructType(Seq(StructField("node", nodeType))), rows.toSeq)
      .filter(pred).collect().map(_.get(0)).toSet
  }

  // ------------------------------------------------------------------ BFS
  /** Mirrors [[Bfs.run]]: frontier expansion with first-reach distances,
    * truncated at maxDepth; only reached nodes report. */
  def bfs(spark: SparkSession, nodeType: DataType, edges: Array[(Any, Any)],
          seeds: Set[Any], maxDepth: Int): DataFrame = {
    val adj = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Any]]()
    edges.foreach { case (s, d) =>
      adj.computeIfAbsent(s, _ => scala.collection.mutable.ArrayBuffer.empty[Any]) += d
    }
    val dist = new java.util.LinkedHashMap[Any, Long]()
    seeds.foreach(s => dist.put(s, 0L))
    var frontier: Iterable[Any] = seeds
    var depth = 0
    while (frontier.nonEmpty && depth < maxDepth) {
      val next = scala.collection.mutable.LinkedHashSet.empty[Any]
      frontier.foreach { nd =>
        val out = adj.get(nd)
        if (out != null) out.foreach { d => if (!dist.containsKey(d)) next += d }
      }
      next.foreach(d => dist.put(d, depth + 1L))
      frontier = next
      depth += 1
    }
    val schema = StructType(Seq(StructField("node", nodeType),
      StructField("dist", LongType)))
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    dist.forEach((nd, dv) => out += Row(nd, dv))
    localDf(spark, schema, out.toSeq)
  }

  // --------------------------------------------------------------- k-core
  /** Mirrors [[KCore.run]]'s simultaneous peel INCLUDING its round budget:
    * the converged-within-maxRounds requirement fails with the same message
    * either path (the oracle's unroll bound must hold regardless of which
    * path ran). Input is the doubled directed edge set. */
  def kcore(spark: SparkSession, nodeType: DataType, doubled: Array[(Any, Any)],
            k: Int, maxRounds: Int): DataFrame = {
    var edges = doubled
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val degNow = new java.util.HashMap[Any, Long]()
      edges.foreach { case (s, _) => degNow.merge(s, 1L, _ + _) }
      val bad = new java.util.HashSet[Any]()
      degNow.forEach((nd, d) => if (d < k) bad.add(nd))
      if (bad.isEmpty) converged = true
      else edges = edges.filter { case (s, d) => !bad.contains(s) && !bad.contains(d) }
      round += 1
    }
    require(converged,
      s"$k-core peel did not reach a fixpoint within $maxRounds rounds " +
        "(the oracle's unroll bound would diverge)")
    val coreDeg = new java.util.LinkedHashMap[Any, Long]()
    edges.foreach { case (s, _) => coreDeg.merge(s, 1L, _ + _) }
    val schema = StructType(Seq(StructField("node", nodeType),
      StructField("core_deg", LongType)))
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    coreDeg.forEach((nd, d) => out += Row(nd, d))
    localDf(spark, schema, out.toSeq)
  }
}
