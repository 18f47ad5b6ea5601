package graft.pipeline

import scala.util.Random

import graft.SparkSuite
import org.apache.spark.sql.DataFrame

/** `connectedComponentsStar` against a driver-side union-find on seeded
  * random graphs: long chains under shuffled ids, a hub star, cliques,
  * sparse random graphs with duplicate and reversed edges, and inputs
  * spread over seven partitions. */
class StarComponentsSpec extends SparkSuite {
  import spark.implicits._

  /** Every node of `pairs` labelled by its component min. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def components(df: DataFrame): Map[Long, Long] = {
    val rows = df.as[(Long, Long)].collect()
    assert(rows.map(_._1).distinct.length === rows.length, "a node has two labels")
    rows.toMap
  }

  /** A path over `n` nodes whose ids are a random permutation of a sparse
    * id range, so the component min sits anywhere along it. */
  private def chain(rng: Random, n: Int, base: Long): Seq[(Long, Long)] = {
    val ids = rng.shuffle((0 until n).map(i => base + 3L * i))
    ids.sliding(2).map(p => (p(0), p(1))).toSeq
  }

  private def clique(rng: Random, n: Int, base: Long): Seq[(Long, Long)] = {
    val ids = rng.shuffle((0 until n).map(base + _))
    for (a <- ids.indices; b <- a + 1 until ids.size) yield (ids(a), ids(b))
  }

  /** Some edges twice, some reversed, the list shuffled. */
  private def noisy(rng: Random, edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val dup = edges.filter(_ => rng.nextDouble() < 0.2)
    val flipped = (edges ++ dup).map { case (a, b) => if (rng.nextBoolean()) (b, a) else (a, b) }
    rng.shuffle(flipped)
  }

  /** Six graph families, each drawn under six seeds: 36 graphs. */
  private val graphs: Seq[(String, Seq[(Long, Long)])] = (0 until 6).flatMap { s =>
    val rng = new Random(1000 + s)
    val chainLen = Seq(2, 17, 64, 150, 233, 300)(s)
    val sparseNodes = 40 + 30 * s
    val sparse = {
      val edges = Seq.fill(sparseNodes)((rng.nextInt(sparseNodes).toLong, rng.nextInt(sparseNodes).toLong))
        .filter { case (a, b) => a != b }
      noisy(rng, edges)
    }
    Seq(
      s"chain($chainLen)" -> noisy(rng, chain(rng, chainLen, 1000L)),
      s"cliques" -> noisy(rng, (3 to 3 + s).flatMap(n => clique(rng, n, 100L * n))),
      s"sparse($sparseNodes)" -> sparse,
      s"chains+cliques" -> noisy(rng,
        chain(rng, 20 + 40 * s, 5000L) ++ clique(rng, 4 + s, 9000L) ++ Seq((5000L, 9000L))),
      s"two chains" -> noisy(rng, chain(rng, 50, 20000L) ++ chain(rng, 80 + s, 30000L)),
      s"path of cliques" -> noisy(rng, (0 until 4).flatMap { c =>
        clique(rng, 5, 40000L + 10L * c) :+ (40000L + 10L * c, 40010L + 10L * c)
      })
    ).map { case (name, edges) => s"seed $s: $name" -> edges }
  }

  test("star components equal union-find on 36 seeded random graphs") {
    assert(graphs.size >= 30)
    graphs.zipWithIndex.foreach { case ((name, edges), i) =>
      val df = edges.toDF("id_a", "id_b")
      val input = if (i % 2 == 1) df.repartition(7) else df
      assert(components(Dedup.connectedComponentsStar(input)) === unionFind(edges), name)
    }
  }

  test("a hub with 5,000 leaves, plus a chain hung off one leaf, is one component") {
    val rng = new Random(7)
    val hub = 2500L
    val leaves = (0L to 5000L).filter(_ != hub)
    val edges = noisy(rng, leaves.map(l => (hub, l)) ++ chain(rng, 40, 100000L) :+ (4999L, 100000L))
    val got = components(Dedup.connectedComponentsStar(edges.toDF("id_a", "id_b").repartition(7)))
    assert(got === unionFind(edges))
    assert(got.size === 5001 + 40 && got.values.toSet === Set(0L))
  }

  test("a node whose only edge is a self-loop is in no component") {
    val edges = Seq((1L, 1L), (2L, 3L), (3L, 3L), (4L, 4L), (4L, 5L))
    assert(components(Dedup.connectedComponentsStar(edges.toDF("id_a", "id_b"))) ===
      Map(2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 4L))
  }
}
