package perfbench

import graft.core.{JArr, JInt, JObj, JValue, Violations}
import graft.global.{Referential, Uniqueness}
import graft.pipeline.Dedup
import graft.rulepack.{JsonValidate, RulePack}
import graft.stats.{ColumnStats, Drift}
import graft.table.SnapshotStore
import graft.tools.AuditCli
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** What one pass hands back, both evaluated after the clock stops: the
  * check, and the layer figures the workload itself knows. */
final case class Outcome(check: () => Seq[String], info: () => Map[String, Double])

/** A workload: opens its generated input, then runs passes over it. The
  * plan is the generator's record of what every pass must produce. */
abstract class Workload(val data: String, val work: String) {
  val plan: JObj = JValue.parse(new String(Files.readAllBytes(Paths.get(data, "plan.json")), "UTF-8"))
    .asInstanceOf[JObj]
  def rows: Long = long(plan, "rows")
  def open(spark: SparkSession): Unit
  def pass(spark: SparkSession, tr: Tracer, n: Int): Outcome

  protected def long(o: JObj, k: String): Long = o.get(k) match {
    case Some(JInt(v)) => v
    case other => throw new IllegalStateException(s"plan.$k missing: $other")
  }
  protected def counts(k: String): Map[String, Long] = plan.get(k) match {
    case Some(JObj(fs)) => fs.collect { case (key, JInt(v)) => key -> v }.toMap
    case _ => Map.empty
  }
  protected def expect(errs: mutable.Buffer[String], what: String, got: Any, want: Any): Unit =
    if (got != want) errs += s"$what: got $got, want $want"
}

object Workload {
  def apply(name: String, data: String, work: String): Workload = name match {
    case "token_audit"     => new TokenAudit(data, work)
    case "schema_validate" => new SchemaValidate(data, work)
    case "dedup_chain"     => new DedupChain(data, work)
    case other             => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def ruleCounts(rows: Seq[org.apache.spark.sql.Row]): Map[String, Long] =
    rows.map(r => s"${r.getString(0)}|${r.getString(1)}" -> r.getLong(2)).toMap
}

/** AuditCli's flagship audit over a 16-file token table. */
final class TokenAudit(data: String, work: String) extends Workload(data, work) {
  val MaxLen = 256
  var facts: DataFrame = _
  var dim: DataFrame = _

  def open(spark: SparkSession): Unit = {
    facts = spark.read.parquet(s"$data/facts")
    dim = spark.read.parquet(s"$data/allowed_sources.parquet")
  }

  def pass(spark: SparkSession, tr: Tracer, n: Int): Outcome = {
    val pack = AuditCli.tokenRulePack(maxLen = MaxLen)
    val (violations, sample) = tr.span("core.validate") {
      val (v, s) = tr.span("core.build") {
        val v = Violations.validate(facts, pack, Seq("doc_id"))
        (v, Violations.sampleViolations(v, Seq("doc_id"), perRuleK = 5))
      }
      (v, s.select("path", "rule_id", "n_violations").collect().toSeq)
    }
    val verdicts = tr.span("core.verdict") {
      val vd = tr.span("core.build") { Violations.verdictByPartition(facts, pack, None) }
      vd.select("n_rows", "n_failed").collect().toSeq
    }
    val dups = tr.span("global.unique") {
      Uniqueness.duplicateKeysHashed(facts, Seq("doc_id")).select("n_rows").collect().toSeq
    }
    val refs = tr.span("global.ref") { Referential.violations(facts, "source", dim, "source").count() }
    val profile = tr.span("stats.profile") {
      ColumnStats.profile(facts).select("column", "n_rows").collect().toSeq
    }
    val quantiles = tr.span("stats.quantile") {
      ColumnStats.quantileDigest(facts, Seq("n_tok"), Seq(0.5, 0.9, 0.99)).orderBy("q")
        .select("est").collect().map(_.getDouble(0)).toSeq
    }
    val psi = tr.span("stats.drift") {
      val mid = format_string("doc-%012d", lit(rows / 2))
      Drift.psiSketched(facts.where(col("doc_id") < mid), facts.where(col("doc_id") >= mid),
        "n_tok", 0, MaxLen.toDouble, 32).head().getDouble(0)
    }
    val written = tr.span("table.write") {
      val store = new SnapshotStore(s"$work/store", spark)
      val bucketed = violations.withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(8)).cast("int"))
      store.writeResumable(bucketed, "bucket", s"audit-pass-$n").values.sum
    }

    val byRule = Workload.ruleCounts(sample)
    val nViolations = byRule.values.sum
    val nRows = verdicts.map(_.getLong(0)).sum
    val nFailed = verdicts.map(_.getLong(1)).sum
    Outcome(
      check = () => {
        val errs = mutable.Buffer.empty[String]
        expect(errs, "per-rule violation counts", byRule, counts("rule_counts"))
        expect(errs, "verdict rows", nRows, rows)
        expect(errs, "verdict failing rows", nFailed, long(plan, "failing_rows"))
        expect(errs, "duplicate keys", dups.size.toLong, long(plan, "dup_keys"))
        expect(errs, "rows per duplicate key", dups.map(_.getLong(0)).toSet, Set(2L))
        expect(errs, "referential violations", refs, long(plan, "ref_violations"))
        expect(errs, "profile columns", profile.size, facts.columns.length)
        profile.foreach(r => expect(errs, s"profile rows of ${r.getString(0)}", r.getLong(1), rows))
        if (quantiles.size != 3 || quantiles != quantiles.sorted || quantiles.exists(q => q < 1 || q > MaxLen + 1))
          errs += s"n_tok quantiles out of range: $quantiles"
        if (!(psi >= 0 && psi < 1)) errs += s"psi of two halves of one distribution: $psi"
        expect(errs, "violations written", written, nViolations)
        errs.toSeq
      },
      info = () => Map("core.violation_rows" -> nViolations.toDouble,
        "core.failing_row_frac" -> nFailed.toDouble / nRows))
  }
}

/** ValidateCli over one single-row-group parquet file. */
final class SchemaValidate(data: String, work: String) extends Workload(data, work) {
  var df: DataFrame = _

  def open(spark: SparkSession): Unit = df = spark.read.parquet(s"$data/records.parquet")

  def pass(spark: SparkSession, tr: Tracer, n: Int): Outcome = {
    val out = s"$work/out"
    // ValidateCli's pack load: parse, meta-schema gate, compile, lint
    val rule = tr.span("rulepack.load") {
      val text = new String(Files.readAllBytes(Paths.get("perfbench", "packs", "records.json")), "UTF-8")
      val doc = JValue.parseAny(text)
      val errs = JsonValidate.schemaErrors(doc)
      require(errs.isEmpty, s"pack fails its meta-schema: ${errs.mkString("; ")}")
      val r = RulePack.fromJson(doc)
      RulePack.lint(r) ++ RulePack.lint(r, df.schema)
      r
    }
    tr.span("core.validate") {
      val v = tr.span("core.build") {
        Violations.sorted(Violations.validate(df, rule, Seq("rec_id")), Seq("rec_id"))
      }
      v.write.mode("overwrite").parquet(s"$out/violations")
    }
    tr.span("core.verdict") {
      val vd = tr.span("core.build") { Violations.verdictByPartition(df, rule, None) }
      vd.write.mode("overwrite").parquet(s"$out/verdicts")
    }
    Outcome(check = () => {
      val errs = mutable.Buffer.empty[String]
      val byRule = Workload.ruleCounts(Violations.ruleCounts(spark.read.parquet(s"$out/violations"))
        .select("path", "rule_id", "n_violations").collect().toSeq)
      expect(errs, "per-rule violation counts", byRule, counts("rule_counts"))
      val v = spark.read.parquet(s"$out/verdicts").agg(sum("n_rows"), sum("n_failed")).head()
      expect(errs, "verdict rows", v.getLong(0), rows)
      expect(errs, "verdict failing rows", v.getLong(1), long(plan, "failing_rows"))
      errs.toSeq
    }, info = () => Map(
      "core.violation_rows" -> counts("rule_counts").values.sum.toDouble,
      "core.failing_row_frac" -> long(plan, "failing_rows").toDouble / rows))
  }
}

/** MinHash candidate pairs, then star connected components, over token docs
  * with planted edit-chain near-duplicate groups. */
final class DedupChain(data: String, work: String) extends Workload(data, work) {
  var docs: DataFrame = _
  val groups: Seq[Seq[Long]] = plan.get("groups") match {
    case Some(JArr(gs)) => gs.collect { case JArr(ms) => ms.collect { case JInt(id) => id } }
    case _ => Nil
  }
  val groupOf: Map[Long, Int] = groups.zipWithIndex.flatMap { case (ms, g) => ms.map(_ -> g) }.toMap

  def open(spark: SparkSession): Unit = docs = spark.read.parquet(s"$data/docs")

  def pass(spark: SparkSession, tr: Tracer, n: Int): Outcome = {
    val pairs = tr.span("pipeline.pairs") {
      val p = Dedup.minhashCandidatePairsTokens(docs, "id", "tokens",
        numHashes = 16, bands = 8, family = Dedup.XxFast).localCheckpoint()
      p.count()
      p
    }
    val comps = tr.span("pipeline.cc") {
      Dedup.connectedComponentsStar(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    lazy val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    Outcome(
      check = () => {
        val errs = mutable.Buffer.empty[String]
        // reference: union-find over the same candidate pairs, labelled by component minimum
        val parent = mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.toSeq.map(x => x -> find(x)).toMap
        expect(errs, "component nodes", comps.size, want.size)
        val wrong = want.count { case (x, c) => !comps.get(x).contains(c) }
        if (wrong > 0) errs += s"$wrong nodes labelled differently from the union-find over the pairs"
        if (edges.isEmpty) errs += "no candidate pairs"
        errs.toSeq
      },
      info = () => {
        val inGroup = edges.count { case (a, b) => groupOf.get(a).exists(groupOf.get(b).contains) }
        val recovered = groups.count(ms => ms.forall(comps.contains) && ms.map(comps).toSet.size == 1)
        Map(
          "pipeline.pairs_n" -> edges.size.toDouble,
          "pipeline.pair_precision" -> (if (edges.isEmpty) 0.0 else inGroup.toDouble / edges.size),
          "pipeline.group_recall" -> recovered.toDouble / math.max(1, groups.size))
      })
  }
}
