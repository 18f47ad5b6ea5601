package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The connected-components loops: exact agreement with a driver-side
  * union-find, loud failure when `maxIter` is too small, and the job shape
  * of a round — one job (the round's `localCheckpoint`, its counters
  * observed on it), never a standalone signature or count pass. */
class ComponentLoopsSpec extends SparkSuite {
  import spark.implicits._

  /** Union-find over the pairs, every node labelled by its component min. */
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

  /** A 200-node path (diameter 199) plus cliques of 3..8 nodes, one of
    * them bridged to the path's far end, and a reversed duplicate edge. */
  private val graph: Seq[(Long, Long)] = {
    val path = (1L until 200L).map(i => (i, i + 1))
    val cliques = (3 to 8).flatMap { n =>
      val base = 1000L * n
      for (a <- 0 until n; b <- a + 1 until n) yield (base + a, base + b)
    }
    path ++ cliques ++ Seq((200L, 5000L), (1001L, 1000L), (3000L, 3001L))
  }

  private def components(df: DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  /** Runs `body` under a fresh job group and returns the description of
    * every SQL execution it started: "<action> at <file>:<line>". The
    * listener bus is asynchronous, so a marker job started afterwards is
    * awaited: once its start is delivered, every earlier event is too. */
  private def executionsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"component-loops-${java.util.UUID.randomUUID()}"
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => events.add(s)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      // no job description: SQL executions then describe themselves by
      // their action's call site
      sc.setJobGroup(group, null)
      try {
        body
        sc.setJobGroup(s"$group-marker", null)
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      def markerSeen = events.asScala.exists {
        case s: SparkListenerJobStart =>
          Option(s.properties).exists(_.getProperty("spark.jobGroup.id") == s"$group-marker")
        case _ => false
      }
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "listener never saw the marker job")
      events.asScala.toSeq.collect {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          s.executionId -> s.description
      }.sortBy(_._1).map(_._2)
    } finally sc.removeSparkListener(listener)
  }

  private def action(description: String): String = description.takeWhile(_ != ' ')

  test("star components equal a driver-side union-find on a 200-node path plus cliques") {
    val want = unionFind(graph)
    assert(components(Dedup.connectedComponentsStar(graph.toDF("id_a", "id_b"))) === want)
    // and on a shuffled layout (the loop must be partition-invariant)
    assert(components(Dedup.connectedComponentsStar(
      graph.toDF("id_a", "id_b").repartition(7))) === want)
    assert(want(200L) === 1L && want(5000L) === 1L && want(3002L) === 3000L)
  }

  test("star components fail loudly when maxIter is too small") {
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsStar(graph.toDF("id_a", "id_b"), maxIter = 2).collect()
    }
    assert(e.getMessage.contains("connectedComponentsStar did not converge after 2 rounds"))
  }

  test("a star round runs one job: no standalone signature or count pass") {
    val execs = executionsOf {
      Dedup.connectedComponentsStar(graph.toDF("id_a", "id_b")).collect()
    }
    val actions = execs.map(action)
    val checkpoints = actions.count(_ == "localCheckpoint")
    // the initial edge set plus one checkpoint per round (log-diameter rounds)
    assert(checkpoints >= 3, execs)
    // the signature rides each checkpoint: no `head`/`agg` pass; the exact
    // fixed-point check is the one count of the run
    assert(actions.count(_ == "count") === 1, execs)
    assert(actions.toSet === Set("localCheckpoint", "count", "collect"), execs)
  }

  test("min-label loops observe their changed-label count: no count job per round") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h"), (3L, "x y z w v u t"))
      .toDF("doc_id", "text")
    val mh = executionsOf {
      val got = Dedup.minhashComponents(docs, "doc_id", "text", bands = 16, maxIter = 5)
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 1L, 2L -> 1L))
    }
    assert(!mh.map(action).contains("count"), mh)
  }
}
