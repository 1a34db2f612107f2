package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.SparkTestBase

/** The driver-local small-graph fixpoints must be BIT-IDENTICAL to the
  * distributed paths — same Long arithmetic, same orderings. Each test runs
  * the operator twice: once under the default bound (local path taken) and
  * once with `spark.graft.localIterMaxEdges = 0` (distributed path forced),
  * and compares full result maps. The degenerate graphs (empty, one edge)
  * must also agree when the operator rejects them: the same `require`
  * message from both paths. */
class LocalIterParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Key = "spark.graft.localIterMaxEdges"

  /** Evaluate `f` with the distributed path forced. */
  private def distributed[A](f: => A): A = {
    spark.conf.set(Key, "0")
    try f finally spark.conf.set(Key, "200000")
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  // a directed multi-component graph with hubs, chains and a cycle
  private lazy val edges: Seq[(String, String)] = {
    val rnd = new scala.util.Random(11)
    val nodes = (0 until 80).map(i => f"n$i%03d")
    val random = Seq.fill(150)((nodes(rnd.nextInt(nodes.length)), nodes(rnd.nextInt(nodes.length))))
      .filter { case (a, b) => a != b }
    val chain = (0 until 20).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
    val hub = (1 until 12).map(i => (s"hub", f"leaf$i%02d"))
    (random ++ chain ++ hub).distinct
  }
  private lazy val edgesDf = edges.toDF("src", "dst")

  test("PageRank local ≡ distributed (bit-exact)") {
    val local = rows(PageRank.run(edgesDf, iterations = 6))
    val dist = distributed(rows(PageRank.run(edgesDf, iterations = 6)))
    assert(local === dist)
  }

  test("weighted PageRank local ≡ distributed (bit-exact)") {
    val w = edges.zipWithIndex.map { case ((a, b), i) => (a, b, 1L + (i % 7) * 1000L) }
      .toDF("src", "dst", "w")
    val local = rows(WeightedPageRank.run(w, iterations = 6))
    val dist = distributed(rows(WeightedPageRank.run(w, iterations = 6)))
    assert(local === dist)
  }

  test("HITS local ≡ distributed (bit-exact)") {
    val local = rows(Hits.run(edgesDf, iterations = 5))
    val dist = distributed(rows(Hits.run(edgesDf, iterations = 5)))
    assert(local === dist)
  }

  test("PPR local ≡ distributed (bit-exact), incl. Catalyst seed predicate") {
    val pred = substring(md5(col("node")), 1, 1).isin("0", "1", "2")
    val local = rows(Ppr.run(edgesDf, pred, iterations = 6))
    val dist = distributed(rows(Ppr.run(edgesDf, pred, iterations = 6)))
    assert(local === dist)
  }

  test("BFS local ≡ distributed, shallow and deep caps") {
    val pred = substring(md5(col("node")), 1, 1).isin("0", "1")
    for (depth <- Seq(2, 12, 30)) {
      val local = rows(Bfs.run(edgesDf, pred, maxDepth = depth))
      val dist = distributed(rows(Bfs.run(edgesDf, pred, maxDepth = depth)))
      assert(local === dist, s"depth $depth")
    }
  }

  test("k-core local ≡ distributed") {
    for (k <- Seq(2, 3)) {
      val local = rows(KCore.run(edgesDf, k = k))
      val dist = distributed(rows(KCore.run(edgesDf, k = k)))
      assert(local === dist, s"k=$k")
    }
  }

  test("connected components local ≡ distributed (isolated nodes label themselves)") {
    val nodes = (edges.flatMap(e => Seq(e._1, e._2)) ++ Seq("iso1", "iso2")).distinct.toDF("node")
    val e = edges.toDF("node_a", "node_b")
    val local = rows(ConnectedComponents.run(nodes, e))
    val dist = distributed(rows(ConnectedComponents.run(nodes, e)))
    assert(local === dist)
    assert(local.exists(_ == Seq("iso1", "C:iso1")))
  }

  test("CC component minimum uses UTF-8 byte order, not UTF-16") {
    // U+1F600 (😀) encodes F0 9F 98 80 in UTF-8 (above U+FFFD's EF BF BD)
    // but its UTF-16 surrogates D83D DE00 sort BELOW U+FFFD — a Java
    // compareTo minimum would pick the wrong label here
    val a = "😀"
    val b = "�"
    val nodes = Seq(a, b).toDF("node")
    val e = Seq((a, b)).toDF("node_a", "node_b")
    val local = rows(ConnectedComponents.run(nodes, e))
    val dist = distributed(rows(ConnectedComponents.run(nodes, e)))
    assert(local === dist)
    assert(local.forall(_(1) == s"C:$b")) // U+FFFD is the UTF-8 minimum
  }

  // ------------------------------------------------------ degenerate graphs
  private val NoSeed = "requirement failed: personalized PageRank needs at least one seed node"
  private lazy val noEdges = Seq.empty[(String, String)].toDF("src", "dst")
  private lazy val oneEdge = Seq(("a", "b")).toDF("src", "dst")

  /** Runs `f` on both paths: each must give the same column types and rows,
    * or fail the same `require`. Returns the agreed outcome. */
  private def samePaths(f: => DataFrame): Either[String, (Seq[(String, DataType)], Set[Seq[Any]])] = {
    def attempt =
      try { val df = f; Right((df.schema.map(c => (c.name, c.dataType)), rows(df))) }
      catch { case e: IllegalArgumentException => Left(e.getMessage) }
    val local = attempt
    assert(local === distributed(attempt))
    local
  }

  private def rowsOf(f: => DataFrame): Set[Seq[Any]] = samePaths(f).fold(fail(_), _._2)

  test("PageRank, WPR and HITS: an empty graph gives an empty result typed like a one-edge graph's") {
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "PageRank" -> (PageRank.run(_, iterations = 3)),
      "WPR" -> (e => WeightedPageRank.run(e.withColumn("w", lit(3L)), iterations = 3)),
      "HITS" -> (Hits.run(_, iterations = 3)))
    for ((name, op) <- ops) {
      val (emptySchema, emptyRows) = samePaths(op(noEdges)).fold(fail(_), identity)
      val (oneSchema, oneRows) = samePaths(op(oneEdge)).fold(fail(_), identity)
      assert(emptyRows.isEmpty, name)
      assert(emptySchema === oneSchema, name)
      assert(oneRows.map(_.head) === Set("a", "b"), name)
    }
  }

  test("PageRank and WPR on one edge: the source keeps the restart term, the target adds its share") {
    val base = PageRank.Scale / 2 * 15L / 100L
    val want = Map("a" -> base, "b" -> (base + base * 85L / 100L))
    assert(rowsOf(PageRank.run(oneEdge, iterations = 3)).map(r => r(0) -> r(1)).toMap === want)
    assert(rowsOf(WeightedPageRank.run(oneEdge.withColumn("w", lit(3L)), iterations = 3))
      .map(r => r(0) -> r(1)).toMap === want)
  }

  test("HITS on one edge: the source is the pure hub, the target the pure authority") {
    assert(rowsOf(Hits.run(oneEdge, iterations = 3)).map(_.take(3)) ===
      Set(Seq("a", 0L, Hits.Scale), Seq("b", Hits.Scale, 0L)))
  }

  test("PPR: empty graph and unmatched seed fail the same require; one seeded edge ranks") {
    assert(samePaths(Ppr.run(noEdges, col("node") === "a")) === Left(NoSeed))
    assert(samePaths(Ppr.run(oneEdge, col("node") === "zzz")) === Left(NoSeed))
    val base = PageRank.Scale * 15L / 100L
    assert(rowsOf(Ppr.run(oneEdge, col("node") === "a", iterations = 3)).map(r => r(0) -> r(1)).toMap ===
      Map("a" -> base, "b" -> base * 85L / 100L))
  }

  test("WPR: a non-positive weight fails the same require on a one-edge graph") {
    assert(samePaths(WeightedPageRank.run(Seq(("a", "b", 0L)).toDF("src", "dst", "w"))) ===
      Left("requirement failed: edge weights must be positive"))
  }

  test("connected components: empty and one-edge graphs, isolated nodes self-label") {
    val noPairs = Seq.empty[(String, String)].toDF("node_a", "node_b")
    assert(rowsOf(ConnectedComponents.run(Seq.empty[String].toDF("node"), noPairs)).isEmpty)
    assert(rowsOf(ConnectedComponents.run(Seq("x").toDF("node"), noPairs)) === Set(Seq("x", "C:x")))
    assert(rowsOf(ConnectedComponents.run(Seq("a", "b", "x").toDF("node"),
        Seq(("a", "b")).toDF("node_a", "node_b"))) ===
      Set(Seq("a", "C:a"), Seq("b", "C:a"), Seq("x", "C:x")))
  }
}
