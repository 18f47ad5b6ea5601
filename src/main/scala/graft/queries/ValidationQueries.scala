package graft
package queries

import graft.core.{Rule, Violations}
import graft.core.Rule._
import graft.global.{Referential, Uniqueness}
import graft.pipeline.TextAnalysis
import graft.stats.{ColumnStats, Drift, PackInference}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Validation engine: row-local rule packs, uniqueness, referential
  * checks, stats, drift and formats (v01-v51). */
object ValidationQueries {

  /** Numeric/enum rule pack over lineitem — violation *counts* per rule
    * (numbers stay internal; only exact BIGINT counts are emitted). */
  private[graft] val lineitemPack: Rule = All(Seq(
    Properties(Seq(
      "l_quantity" -> All(Seq(Minimum(1), Maximum(45))),
      "l_discount" -> Maximum(0.05),
      "l_tax" -> Maximum(0.1),                        // never fires (max 0.08)
      "l_returnflag" -> Enum(Seq(core.JStr("A"), core.JStr("N"))),
      "l_linestatus" -> Enum(Seq(core.JStr("O"), core.JStr("F"))))), // never fires
    Required(Seq("l_orderkey", "l_partkey"))))        // never fires

  /** String-only rule pack over orders — violation *rows* with observed
    * values (strings are format-stable across engines). */
  private val ordersPack: Rule = Properties(Seq(
    "o_orderstatus" -> Enum(Seq(core.JStr("O"), core.JStr("F"))),
    "o_orderpriority" -> Pattern("^[1-3]-")))

  /** Combinator rule pack over orders (§2.5 made oracle-checkable): every
    * oneOf outcome fires on real data — priorities 1-/2- match BOTH branches
    * (`all_rules_match`), 3- exactly one (pass), 4-/5- none (two prefixed
    * branch errors); if/then/else selects the bound by order size; `not`
    * fires on status P. Messages include the reference's templated text
    * (Error.pm:6-53), so the oracle pins prefixing + specials exactly. */
  private val combinatorPack: Rule = Properties(Seq(
    "o_totalprice" -> IfThenElse(Minimum(300000), Some(Maximum(450000)), Some(Minimum(50000))),
    "o_orderpriority" -> OneOf(Seq(Pattern("^[1-2]-"), Pattern("^[1-3]-"))),
    "o_orderstatus" -> Not(Enum(Seq(core.JStr("P"))))))

  val all: Seq[Query] = Seq(

    Query("v01_rule_counts_lineitem",
      """SELECT * FROM (
        | SELECT '/l_quantity' AS path, 'maximum' AS rule_id, count(*) AS n_violations FROM lineitem WHERE l_quantity > 45
        | UNION ALL SELECT '/l_quantity', 'minimum', count(*) FROM lineitem WHERE l_quantity < 1
        | UNION ALL SELECT '/l_discount', 'maximum', count(*) FROM lineitem WHERE l_discount > 0.05
        | UNION ALL SELECT '/l_tax', 'maximum', count(*) FROM lineitem WHERE l_tax > 0.1
        | UNION ALL SELECT '/l_returnflag', 'enum', count(*) FROM lineitem WHERE l_returnflag NOT IN ('A','N')
        | UNION ALL SELECT '/l_linestatus', 'enum', count(*) FROM lineitem WHERE l_linestatus NOT IN ('O','F')
        |) t WHERE n_violations > 0 ORDER BY path, rule_id""".stripMargin,
      floor = false) { t =>
      Violations.ruleCounts(
        Violations.validate(t("lineitem"), lineitemPack, Seq("l_orderkey")))
        .orderBy("path", "rule_id")
    },

    Query("v02_violation_rows_orders",
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_orderstatus' AS path, 'enum' AS rule_id, o_orderstatus AS observed
        |  FROM orders WHERE o_orderstatus NOT IN ('O','F')
        | UNION ALL
        | SELECT o_orderkey, '/o_orderpriority', 'pattern', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |) t ORDER BY o_orderkey, path""".stripMargin,
      floor = false) { t =>
      Violations.validate(t("orders"), ordersPack, Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id", "observed")
        .orderBy("o_orderkey", "path")
    },

    Query("v50_delta_validate",
      // the FULL corpus counted directly — committed+delta merging must
      // reproduce this exactly (count additivity)
      """SELECT * FROM (
        | SELECT '/l_quantity' AS path, 'maximum' AS rule_id, count(*) AS n_violations FROM lineitem WHERE l_quantity > 45
        | UNION ALL SELECT '/l_quantity', 'minimum', count(*) FROM lineitem WHERE l_quantity < 1
        | UNION ALL SELECT '/l_discount', 'maximum', count(*) FROM lineitem WHERE l_discount > 0.05
        | UNION ALL SELECT '/l_tax', 'maximum', count(*) FROM lineitem WHERE l_tax > 0.1
        | UNION ALL SELECT '/l_returnflag', 'enum', count(*) FROM lineitem WHERE l_returnflag NOT IN ('A','N')
        | UNION ALL SELECT '/l_linestatus', 'enum', count(*) FROM lineitem WHERE l_linestatus NOT IN ('O','F')
        |) t WHERE n_violations > 0 ORDER BY path, rule_id""".stripMargin,
      floor = false) { t =>
      // the resume contract as an oracle LAW: validate(committed snapshot)
      // + validate(delta), merged by counter ADDITION, must equal
      // validate(full) — the oracle computes the full-corpus counts
      // directly, so a double-counted partition or a missed delta row
      // hash-mismatches. Only the delta flows through rule evaluation at
      // resume time (at scale the split is SnapshotStore's partition
      // manifest, and the committed side's counts come from its metrics
      // table, not a rescan); the merge is a per-rule counter union.
      val li = t("lineitem")
      val committed = li.where(pmod(col("l_orderkey"), lit(5)) =!= 4)
      val delta = li.where(pmod(col("l_orderkey"), lit(5)) === 4)
      val oldC = Violations.ruleCounts(
        Violations.validate(committed, lineitemPack, Seq("l_orderkey")))
      val deltaC = Violations.ruleCounts(
        Violations.validate(delta, lineitemPack, Seq("l_orderkey")))
      oldC.unionByName(deltaC).groupBy("path", "rule_id")
        .agg(sum(col("n_violations")).as("n_violations"))
        .orderBy("path", "rule_id")
    },

    Query("v03_unique_dup_keys",
      """SELECT l_orderkey, count(*) AS n_rows FROM lineitem
        |GROUP BY l_orderkey HAVING count(*) > 1 ORDER BY l_orderkey""".stripMargin,
      floor = false) { t =>
      // hash-first scale path; result identical to the direct groupBy (and
      // to the oracle's GROUP BY … HAVING)
      Uniqueness.duplicateKeysHashed(t("lineitem"), Seq("l_orderkey"))
        .orderBy("l_orderkey")
    },

    Query("v35_string_battery",
      """SELECT * FROM (
        | SELECT p_partkey, '/p_brand' AS path, 'const' AS rule_id,
        |   'Does not match const: "Brand#13".' AS message, p_brand AS observed
        |  FROM part WHERE p_brand IS DISTINCT FROM 'Brand#13'
        | UNION ALL SELECT p_partkey, '/p_name', 'minLength',
        |   'String is too short: ' || length(p_name) || '/20.', p_name
        |  FROM part WHERE length(p_name) < 20
        | UNION ALL SELECT p_partkey, '/p_name', 'maxLength',
        |   'String is too long: ' || length(p_name) || '/30.', p_name
        |  FROM part WHERE length(p_name) > 30
        |) t ORDER BY p_partkey, path, rule_id""".stripMargin,
      floor = false) { t =>
      // string-keyword battery through the PARSE front door: the pack
      // arrives as JSON text (const + minLength/maxLength — the §2 rows
      // previously covered by tests only), compiles, and the violation
      // rows (message-exact) hash-match the closed-form SQL
      val pack = graft.rulepack.RulePack.parse(
        """{"type":"object","properties":{
          |  "p_brand":{"const":"Brand#13"},
          |  "p_name":{"minLength":20,"maxLength":30}
          |}}""".stripMargin)
      Violations.validate(t("part"), pack, Seq("p_partkey"))
        .select("p_partkey", "path", "rule_id", "message", "observed")
        .orderBy("p_partkey", "path", "rule_id")
    },

    Query("v36_dependencies_draft4",
      """WITH all_ev AS (
        | SELECT event_id, props FROM events
        | UNION ALL SELECT * FROM (VALUES
        |  (910001, '{"k": 5, "k2": 9}'),
        |  (910002, '{"k": 7}'),
        |  (910003, '{"b": 1, "q": 5}'),
        |  (910004, '{"b": 1}'),
        |  (910005, '{"z": 1}')) AS t(event_id, props)),
        |x AS (SELECT event_id,
        |  CAST(NULLIF(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1), '') AS INT) AS k,
        |  CAST(NULLIF(regexp_extract(props, '"k2"\s*:\s*(-?\d+)', 1), '') AS INT) AS k2,
        |  CAST(NULLIF(regexp_extract(props, '"b"\s*:\s*(-?\d+)', 1), '') AS INT) AS b,
        |  CAST(NULLIF(regexp_extract(props, '"q"\s*:\s*(-?\d+)', 1), '') AS INT) AS q
        | FROM all_ev)
        |SELECT * FROM (
        | SELECT event_id, '/k2' AS path, 'dependencies' AS rule_id,
        |   'Missing property. Dependee: k.' AS message, 'null' AS observed
        |  FROM x WHERE k IS NOT NULL AND k2 IS NULL
        | UNION ALL SELECT event_id, '/q', 'minimum',
        |   q || ' < minimum(10)', CAST(q AS VARCHAR)
        |  FROM x WHERE b IS NOT NULL AND q IS NOT NULL AND q < 10
        | UNION ALL SELECT event_id, '/q', 'required',
        |   'Missing property.', 'null'
        |  FROM x WHERE b IS NOT NULL AND q IS NULL
        |) t ORDER BY event_id, path, rule_id""".stripMargin,
      floor = true) { t =>
      import t.spark.implicits._
      // the draft-4 `dependencies` keyword through the PARSE front door:
      // array form (presence -> required) AND hash form (presence ->
      // sub-schema with its own properties/required), over a struct-parsed
      // dynamic instance; fixtures cover every branch
      val pack = graft.rulepack.RulePack.parse(
        """{"type":"object","dependencies":{
          |  "k":["k2"],
          |  "b":{"properties":{"q":{"minimum":10}},"required":["q"]}
          |}}""".stripMargin)
      val fixtures = Seq(
        (910001L, """{"k": 5, "k2": 9}"""),
        (910002L, """{"k": 7}"""),
        (910003L, """{"b": 1, "q": 5}"""),
        (910004L, """{"b": 1}"""),
        (910005L, """{"z": 1}"""))
        .toDF("event_id", "props")
      val ev = t("events").select("event_id", "props").unionByName(fixtures)
        .withColumn("p", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT, k2 INT, b INT, q INT")))
      Violations.validateColumn(ev, pack, "p", Seq("event_id"))
        .select("event_id", "path", "rule_id", "message", "observed")
        .orderBy("event_id", "path", "rule_id")
    },

    Query("v37_combinator_battery",
      """SELECT * FROM (
        | SELECT l_orderkey, l_linenumber, '/l_quantity' AS path, 'maximum' AS rule_id,
        |   '/anyOf/0 ' || CAST(l_quantity AS VARCHAR) || ' > maximum(10)' AS message,
        |   CAST(l_quantity AS VARCHAR) AS observed
        |  FROM lineitem WHERE l_linenumber = 1 AND l_quantity > 10 AND l_quantity < 45
        | UNION ALL SELECT l_orderkey, l_linenumber, '/l_quantity', 'minimum',
        |   '/anyOf/1 ' || CAST(l_quantity AS VARCHAR) || ' < minimum(45)', CAST(l_quantity AS VARCHAR)
        |  FROM lineitem WHERE l_linenumber = 1 AND l_quantity > 10 AND l_quantity < 45
        | UNION ALL SELECT l_orderkey, l_linenumber, '/l_discount', 'minimum',
        |   '/allOf/0 ' || CAST(l_discount AS VARCHAR) || ' < minimum(0.02)', CAST(l_discount AS VARCHAR)
        |  FROM lineitem WHERE l_linenumber = 1 AND l_discount < 0.02
        | UNION ALL SELECT l_orderkey, l_linenumber, '/l_discount', 'maximum',
        |   '/allOf/1 ' || CAST(l_discount AS VARCHAR) || ' > maximum(0.08)', CAST(l_discount AS VARCHAR)
        |  FROM lineitem WHERE l_linenumber = 1 AND l_discount > 0.08
        |) t ORDER BY l_orderkey, l_linenumber, path, rule_id""".stripMargin,
      floor = true) { t =>
      // anyOf (fails only when every branch fails — both branch errors
      // emitted with /anyOf/<i> prefixes) and allOf (every failing branch
      // reports, /allOf/<i>-prefixed), parsed from JSON — the two
      // combinator rows v16's oneOf battery left test-only
      val pack = graft.rulepack.RulePack.parse(
        """{"type":"object","properties":{
          |  "l_quantity":{"anyOf":[{"maximum":10},{"minimum":45}]},
          |  "l_discount":{"allOf":[{"minimum":0.02},{"maximum":0.08}]}
          |}}""".stripMargin)
      Violations.validate(
          t("lineitem").where(col("l_linenumber") === 1), pack,
          Seq("l_orderkey", "l_linenumber"))
        .select("l_orderkey", "l_linenumber", "path", "rule_id", "message", "observed")
        .orderBy("l_orderkey", "l_linenumber", "path", "rule_id")
    },

    Query("v38_coerce_battery",
      """SELECT * FROM (
        | SELECT * FROM (VALUES
        |  (1, 'bool', 'true', NULL), (2, 'bool', 'true', NULL),
        |  (3, 'bool', 'false', NULL), (4, 'bool', 'false', NULL),
        |  (5, 'bool', 'false', NULL), (6, 'bool', NULL, NULL))
        |  AS f(id, kind, v1, v2)
        | UNION ALL SELECT p_partkey + 1000, 'ssv', string_split(p_type, ' ')[1],
        |   CAST(len(string_split(p_type, ' ')) AS VARCHAR) FROM part
        | UNION ALL SELECT p_partkey + 200000, 'str', CAST(p_size AS VARCHAR), NULL FROM part
        |) t ORDER BY id, kind""".stripMargin,
      floor = true) { t =>
      import t.spark.implicits._
      // the coercion rows v12's number leg left test-only: boolean
      // coercion truth table ("true"/"1"/"false"/"0"/""/junk), number →
      // string, and OpenAPI v2 collectionFormat ssv splitting over a real
      // space-delimited column
      val fx = Seq("true", "1", "false", "0", "", "junk").zipWithIndex
        .map { case (b, i) => (i + 1L, b) }.toDF("id", "b")
      val legA = fx.select(col("id"), lit("bool").as("kind"),
        core.Coerce.booleans(col("b")).cast("string").as("v1"),
        lit(null).cast("string").as("v2"))
      val p = t("part")
      val ssv = core.Coerce.splitCollection(col("p_type"), "ssv")
      val legB = p.select((col("p_partkey") + 1000L).as("id"), lit("ssv").as("kind"),
        element_at(ssv, 1).as("v1"), size(ssv).cast("string").as("v2"))
      val legC = p.select((col("p_partkey") + 200000L).as("id"), lit("str").as("kind"),
        core.Coerce.strings(col("p_size")).as("v1"), lit(null).cast("string").as("v2"))
      legA.unionByName(legB).unionByName(legC).orderBy("id", "kind")
    },

    Query("v39_anchor_refs",
      // same behavior as v02 reached through $anchor + relative-$id refs
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_orderstatus' AS path, 'enum' AS rule_id, o_orderstatus AS observed
        |  FROM orders WHERE o_orderstatus NOT IN ('O','F')
        | UNION ALL
        | SELECT o_orderkey, '/o_orderpriority', 'pattern', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |) t ORDER BY o_orderkey, path""".stripMargin,
      floor = false) { t =>
      // $anchor + relative-$id resolution IN the oracle gate: the pack
      // reaches the same enum/pattern rules as v02 only through a
      // fragment anchor and a relative embedded $id (base-URI rebase) —
      // identical violation rows prove the resolution path end-to-end
      val pack = graft.rulepack.RulePack.parse(
        """{"$id": "https://graft.example/root.json",
          | "type": "object",
          | "properties": {
          |   "o_orderstatus": {"$ref": "#status"},
          |   "o_orderpriority": {"$ref": "sub/prio.json"}},
          | "$defs": {
          |   "st": {"$anchor": "status", "enum": ["O", "F"]},
          |   "pr": {"$id": "sub/prio.json", "pattern": "^[1-3]-"}}
          |}""".stripMargin)
      Violations.validate(t("orders"), pack, Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id", "observed")
        .orderBy("o_orderkey", "path")
    },

    Query("v40_recursive_tree",
      """SELECT * FROM (
        | SELECT i AS id, '/children/0/data' AS path, 'required' AS rule_id
        |  FROM range(200) t(i) WHERE i % 7 = 0
        | UNION ALL SELECT i, '/children/0/children/0/data', 'required'
        |  FROM range(200) t(i) WHERE i % 5 = 0
        |) t ORDER BY id, path""".stripMargin,
      floor = false) { t =>
      // 2019-09 $recursiveRef/$recursiveAnchor IN the gate: the tree pack
      // is reached through a cross-document $ref and its children recurse
      // via "$recursiveRef": "#" against the tree's own $id scope; planted
      // NULL `data` at depth 1 (id%7) and depth 2 (id%5) must surface at
      // the exact nested /children/... paths
      val tree = graft.core.JValue.parse(
        """{"$schema": "https://json-schema.org/draft/2019-09/schema",
          | "$id": "urn:x-graft:tree",
          | "type": "object",
          | "properties": {
          |   "data": {"type": "integer"},
          |   "children": {"type": "array", "items": {"$recursiveRef": "#"}}},
          | "required": ["data"]}""".stripMargin)
      val pack = graft.rulepack.RulePack.parse(
        """{"$id": "urn:x-graft:entry", "$ref": "urn:x-graft:tree"}""",
        graft.rulepack.RulePack.Store(Map("urn:x-graft:tree" -> tree)))
      val df = t.spark.range(0, 200).select(col("id"),
        struct(col("id").cast("int").as("data"),
          array(struct(
            when(col("id") % 7 === 0, lit(null).cast("int"))
              .otherwise(col("id").cast("int") + 1).as("data"),
            array(struct(
              when(col("id") % 5 === 0, lit(null).cast("int"))
                .otherwise(col("id").cast("int") + 2).as("data"))).as("children")
          )).as("children")).as("doc"))
      Violations.validateColumn(df, pack, "doc", Seq("id"))
        .select("id", "path", "rule_id")
        .orderBy("id", "path")
    },

    Query("v41_custom_format",
      """SELECT p_partkey, '/sku' AS path, 'format' AS rule_id,
        | 'Does not match sku format.' AS message,
        | 'bad_' || p_partkey AS observed
        |FROM part WHERE p_partkey % 9 = 0 ORDER BY p_partkey""".stripMargin,
      floor = false) { t =>
      // user-extensible format registry (reference Schema.pm:164-192
      // formats hash): a custom "sku" format plugs into the same Format
      // rule machinery, and an unknown format passes (permissive mode —
      // Schema.pm:601-608); planted bad skus at p_partkey%9
      val reg = graft.functions.Formats.Registry(extra = Map(
        "sku" -> ((c: Column) => c.rlike("^[A-Z]{2}-\\d{4}$"))))
      val df = t("part").select(col("p_partkey"),
        when(col("p_partkey") % 9 === 0,
            concat(lit("bad_"), col("p_partkey").cast("string")))
          .otherwise(format_string("PT-%04d", pmod(col("p_partkey"), lit(10000)))).as("sku"),
        col("p_type").as("free"))
      val rule = Properties(Seq(
        "sku" -> Format("sku"),
        "free" -> Format("made-up-format")))
      Violations.validate(df, rule, Seq("p_partkey"),
          ctx = graft.core.RuleCompiler.Ctx(formats = reg))
        .select("p_partkey", "path", "rule_id", "message", "observed")
        .orderBy("p_partkey")
    },

    Query("v42_modality",
      // request: Read-only. presence error suppresses the enum (dispatcher
      // order); response: enum fires on bad values, Write-only. presence
      // fires on the writeOnly property; pattern validates in both
      """SELECT * FROM (
        | SELECT o_orderkey, 'request' AS direction, '/o_orderstatus' AS path,
        |   'modality' AS rule_id, 'Read-only.' AS message, o_orderstatus AS observed
        |  FROM orders
        | UNION ALL SELECT o_orderkey, 'request', '/o_orderpriority', 'pattern',
        |   'String does not match ^[1-3]-.', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        | UNION ALL SELECT o_orderkey, 'response', '/o_orderstatus', 'enum',
        |   'Not in enum list: O, F.', o_orderstatus
        |  FROM orders WHERE o_orderstatus NOT IN ('O','F')
        | UNION ALL SELECT o_orderkey, 'response', '/o_orderpriority', 'modality',
        |   'Write-only.', o_orderpriority
        |  FROM orders
        | UNION ALL SELECT o_orderkey, 'response', '/o_orderpriority', 'pattern',
        |   'String does not match ^[1-3]-.', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |) t ORDER BY o_orderkey, direction, path, rule_id""".stripMargin,
      floor = true) { t =>
      // readOnly/writeOnly in the gate (reference OpenAPIv3.pm:356-396),
      // BOTH directions: in a request the readOnly property's presence is
      // a 'Read-only.' error (and per the dispatcher order,
      // Schema.pm:401-419, the presence error suppresses the enum — enum
      // runs only after everything else passes); in a response the
      // writeOnly property's presence is 'Write-only.' while the property
      // schemas (enum/pattern) validate normally in both directions
      val rule = Properties(Seq(
        "o_orderstatus" -> Rule.readOnly(Enum(Seq(core.JStr("O"), core.JStr("F")))),
        "o_orderpriority" -> Rule.writeOnly(Pattern("^[1-3]-"))))
      val orders = t("orders")
      def leg(d: Rule.Direction, name: String) =
        Violations.validate(orders, rule, Seq("o_orderkey"),
            ctx = graft.core.RuleCompiler.Ctx(direction = d))
          .withColumn("direction", lit(name))
      leg(Rule.Request, "request").unionByName(leg(Rule.Response, "response"))
        .select("o_orderkey", "direction", "path", "rule_id", "message", "observed")
        .orderBy("o_orderkey", "direction", "path", "rule_id")
    },

    Query("v43_type_union_bool_schema",
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_orderpriority' AS path, 'type' AS rule_id,
        |   'Expected integer/number - got string.' AS message, o_orderpriority AS observed
        |  FROM orders
        | UNION ALL SELECT o_orderkey, '/o_orderstatus', 'not',
        |   'Should not match.', o_orderstatus
        |  FROM orders
        |) t ORDER BY o_orderkey, path""".stripMargin,
      floor = true) { t =>
      // type UNION (static flat-table semantics: a string column against
      // ["integer","number"] fails with the combined want-list message,
      // Util.pm:66-69 "got" naming) and boolean schema `false` (presence
      // → not/not, Schema.pm:369); a union the static type satisfies
      // (o_custkey vs ["integer","string"]) emits nothing
      val pack = graft.rulepack.RulePack.parse(
        """{"type":"object","properties":{
          |  "o_orderpriority":{"type":["integer","number"]},
          |  "o_orderstatus":false,
          |  "o_custkey":{"type":["integer","string"]}
          |}}""".stripMargin)
      Violations.validate(t("orders"), pack, Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id", "message", "observed")
        .orderBy("o_orderkey", "path")
    },

    Query("v44_approx_distinct",
      """SELECT * FROM (
        | SELECT 'l_orderkey' AS "column", count(DISTINCT l_orderkey)::BIGINT AS n_exact, TRUE AS within_5pct FROM lineitem
        | UNION ALL SELECT 'l_partkey', count(DISTINCT l_partkey)::BIGINT, TRUE FROM lineitem
        | UNION ALL SELECT 'l_suppkey', count(DISTINCT l_suppkey)::BIGINT, TRUE FROM lineitem
        |) t ORDER BY "column"""".stripMargin,
      floor = false) { t =>
      // HLL++ approx-distinct (the 10¹²-row cardinality path): the sketch
      // value is engine-specific, so the oracle pins what is portable —
      // the EXACT count plus the claim that the sketch landed within 5%
      // (HLL merge is order-insensitive, so the estimate is deterministic
      // for a given dataset; a drifting estimator fails the gate)
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
      // rsd 0.01 (not the 0.05 default): the 5% verdict needs headroom —
      // at small cardinalities the default sketch's realized error can
      // brush past its own rsd.
      // The exact and approx sides run as SEPARATE aggregations stitched
      // by a 1×1 crossJoin: mixing count_distinct with a non-distinct
      // aggregate makes the distinct-rewrite's first phase (keyed on the
      // distinct VALUES) carry the other aggregate's buffer per key group
      // — at rsd 0.01 that is a 2¹⁴-register HLL PER DISTINCT KEY
      // (measured 82 s vs 2.6 s at sf0.1). Split, each plan is clean:
      // Expand for the exact trio, three global HLL buffers for the
      // approx trio.
      // No scan floor here: both legs are global aggregations whose
      // partial buffers (distinct sets, HLL sketches) are what crosses the
      // exchange — a pre-repartition ships the raw key rows instead
      // (measured 2.3 s plain vs 4.6 s floored; a localCheckpoint variant
      // sharing one materialized scan between the legs was worse still in
      // the cold suite, 12.9 s).
      val li = t("lineitem").select(cols.map(col): _*)
      val exactAggs = cols.map(c => count_distinct(col(c)).as(s"${c}__e"))
      val approxAggs = cols.map(c => approx_count_distinct(col(c), 0.01).as(s"${c}__a"))
      val row = li.agg(exactAggs.head, exactAggs.tail: _*)
        .crossJoin(li.agg(approxAggs.head, approxAggs.tail: _*))
      val perCol = cols.map(c => struct(lit(c).as("column"),
        col(s"${c}__e").as("n_exact"),
        (abs(col(s"${c}__a") - col(s"${c}__e")).cast("double")
          / col(s"${c}__e").cast("double") <= 0.05).as("within_5pct")))
      row.select(explode(array(perCol: _*)).as("p")).select("p.*")
        .orderBy("column")
    },

    Query("v48_route_match",
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 6 = 0 THEN 'POST' ELSE 'GET' END AS method,
        | CASE o_orderkey % 6
        |  WHEN 0 THEN '/orders'
        |  WHEN 1 THEN '/orders/' || o_orderkey::VARCHAR
        |  WHEN 2 THEN '/orders/' || o_orderkey::VARCHAR || '/items/' || (o_orderkey % 7)::VARCHAR
        |  WHEN 3 THEN '/orders/search'
        |  WHEN 4 THEN '/customers/' || o_custkey::VARCHAR
        |  ELSE '/unknown/' || o_orderkey::VARCHAR END AS req_path,
        | CASE o_orderkey % 6
        |  WHEN 0 THEN '/orders' WHEN 1 THEN '/orders/{orderId}'
        |  WHEN 2 THEN '/orders/{orderId}/items/{lineNumber}'
        |  WHEN 3 THEN '/orders/search' WHEN 4 THEN '/customers/{custId}' END AS route_path,
        | CASE o_orderkey % 6
        |  WHEN 0 THEN 'createOrder' WHEN 1 THEN 'getOrder' WHEN 2 THEN 'getItem'
        |  WHEN 3 THEN 'searchOrders' WHEN 4 THEN 'getCustomer' END AS operation_id,
        | CASE o_orderkey % 6
        |  WHEN 0 THEN '' WHEN 1 THEN 'orderId=' || o_orderkey::VARCHAR
        |  WHEN 2 THEN 'lineNumber=' || (o_orderkey % 7)::VARCHAR || ',orderId=' || o_orderkey::VARCHAR
        |  WHEN 3 THEN '' WHEN 4 THEN 'custId=' || o_custkey::VARCHAR END AS params
        |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin,
      floor = true) { t =>
      // OpenAPI route dispatch as a TABLE op (OpenAPIv2.pm:120-145): each
      // request row matches the most-specific template in the reference's
      // weight order (static segments beat {placeholders} — '/orders/
      // search' must hit searchOrders, not getOrder) and yields the
      // extracted path params. One codegen'd coalesce(when(rlike)) chain,
      // no joins; DuckDB rebuilds the expected dispatch from the request
      // generator's formula, so a precedence or extraction slip breaks
      // the hash.
      import graft.pipeline.Routes
      val routes = Seq(
        Routes.Route("get", "/orders/{orderId}", "getOrder"),
        Routes.Route("get", "/orders/{orderId}/items/{lineNumber}", "getItem"),
        Routes.Route("get", "/orders/search", "searchOrders"),
        Routes.Route("post", "/orders", "createOrder"),
        Routes.Route("get", "/customers/{custId}", "getCustomer"))
      val o = t("orders").where(col("o_orderkey") <= 2000)
      val k = col("o_orderkey")
      val req = o.select(k,
        when(k % 6 === 0, lit("POST")).otherwise(lit("GET")).as("method"),
        when(k % 6 === 0, lit("/orders"))
          .when(k % 6 === 1, concat(lit("/orders/"), k.cast("string")))
          .when(k % 6 === 2, concat(lit("/orders/"), k.cast("string"),
            lit("/items/"), (k % 7).cast("string")))
          .when(k % 6 === 3, lit("/orders/search"))
          .when(k % 6 === 4, concat(lit("/customers/"), col("o_custkey").cast("string")))
          .otherwise(concat(lit("/unknown/"), k.cast("string"))).as("req_path"))
      Routes.matchRoutes(req, "method", "req_path", routes)
        .select(k, col("method"), col("req_path"), col("route_path"),
          col("operation_id"), Routes.paramsCanonical(col("params")).as("params"))
        .orderBy("o_orderkey")
    },

    Query("v49_route_request_validate",
      """WITH req AS (
        | SELECT o_orderkey, CAST(o_orderkey AS DOUBLE) AS order_id,
        |  CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey % 10 AS DOUBLE) END AS line_number
        | FROM orders WHERE o_orderkey <= 4000)
        |SELECT * FROM (
        | SELECT o_orderkey, '/orderId' AS path, 'maximum' AS rule_id,
        |        CAST(order_id AS VARCHAR) AS observed FROM req WHERE order_id > 3000
        | UNION ALL SELECT o_orderkey, '/lineNumber', 'minimum',
        |        CAST(line_number AS VARCHAR) FROM req WHERE line_number < 1
        | UNION ALL SELECT o_orderkey, '/lineNumber', 'maximum',
        |        CAST(line_number AS VARCHAR) FROM req WHERE line_number > 7
        |) t ORDER BY o_orderkey, path""".stripMargin,
      floor = true) { t =>
      // validate_request's data half COMPOSED: route dispatch (v48) →
      // path-param coercion (string → strict JSON number, Coerce/v12
      // semantics) → rule validation of the coerced params, emitting the
      // reference-shaped violation rows. The chain is where an off-by-one
      // would hide: a wrong capture group or a lax coercion changes the
      // violation set.
      import graft.pipeline.Routes
      val routes = Seq(
        Routes.Route("get", "/orders/{orderId}", "getOrder"),
        Routes.Route("get", "/orders/{orderId}/items/{lineNumber}", "getItem"))
      val o = t("orders").where(col("o_orderkey") <= 4000)
      val k = col("o_orderkey")
      val req = o.select(k, lit("GET").as("method"),
        when(k % 3 === 0, concat(lit("/orders/"), k.cast("string"),
            lit("/items/"), (k % 10).cast("string")))
          .otherwise(concat(lit("/orders/"), k.cast("string"))).as("req_path"))
      val matched = Routes.matchRoutes(req, "method", "req_path", routes)
      // extracted params are STRINGS (path segments); coerce to numbers
      // the v12 way, then rule them: orderId ≤ 3000 everywhere; on the
      // item route lineNumber ∈ [1, 7] (k % 10 generates 0 and 8/9, so
      // both bounds fire)
      val params = core.Coerce(
        matched.where(col("route_path").isNotNull)
          .select(k, col("params")("orderId").as("orderId"),
            col("params")("lineNumber").as("lineNumber")),
        Map("orderId" -> core.Coerce.ToNumber, "lineNumber" -> core.Coerce.ToNumber))
      val rule = Properties(Seq(
        "orderId" -> Maximum(3000),
        "lineNumber" -> All(Seq(Minimum(1), Maximum(7)))))
      Violations.validate(params, rule, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("path"), col("rule_id"), col("observed"))
        .orderBy("o_orderkey", "path")
    },

    Query("v47_drift_sketched",
      """WITH binned AS (
        | SELECT CAST(least(greatest(floor((l_extendedprice - 900)/5205.0), 0), 19) AS INT) AS bin,
        |        l_shipdate < TIMESTAMP '1998-01-01' AS is_ref
        | FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |r AS (SELECT bin, count(*) AS n FROM binned WHERE is_ref GROUP BY bin),
        |c AS (SELECT bin, count(*) AS n FROM binned WHERE NOT is_ref GROUP BY bin),
        |rt AS (SELECT sum(n) AS t FROM r), ct AS (SELECT sum(n) AS t FROM c),
        |j AS (SELECT COALESCE(r.bin, c.bin) AS bin,
        |       greatest(COALESCE(r.n, 0)::DOUBLE / (SELECT t FROM rt), 1e-6) AS p,
        |       greatest(COALESCE(c.n, 0)::DOUBLE / (SELECT t FROM ct), 1e-6) AS q
        |      FROM r FULL OUTER JOIN c ON r.bin = c.bin)
        |SELECT round(sum((p - q) * ln(p / q)), 6) AS psi_exact,
        |       round(sum(p * ln(p / q)), 6) AS kl_exact,
        |       round(sum(p * ln(p / ((p+q)/2)) * 0.5 + q * ln(q / ((p+q)/2)) * 0.5), 6) AS js_exact,
        |       TRUE AS psi_within_tol, TRUE AS kl_within_tol, TRUE AS js_within_tol FROM j""".stripMargin,
      floor = false) { t =>
      // north_star composed end to end: the KLL sketch as the STORED
      // snapshot artifact for distribution-drift checks — PSI/KL/JS
      // computed from two sketches via their exclusive ranks at the bin
      // edges (Drift.sketchedDistances) and judged against
      // the exact histogram distances over the same binning. The sketch is
      // randomized, so the oracle pins the portable pair: the EXACT
      // distances plus the claim that the sketched ones landed within 0.01
      // absolute (QuantileSketch.K is sized so the 20-run worst gap stays
      // at most half of that; TDigestSpec pins the tracking law on a
      // strongly-drifted fixture where PSI > 0.2)
      val li = t("lineitem")
      val ref = li.where(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val cur = li.where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
      val (c, lo, hi, bins) = ("l_extendedprice", 900.0, 105000.0, 20)
      def hist(d: DataFrame) = Drift.histogram(d, c, lo, hi, bins)
      // two 1-row kernels (2 histograms, 2 sketches); the crossJoin is 1×1
      // result stitching
      Drift.distances(hist(ref), hist(cur)).select(round(col("psi"), 6).as("psi_exact"),
          round(col("kl"), 6).as("kl_exact"), round(col("js"), 6).as("js_exact"))
        .crossJoin(Drift.sketchedDistances(ref, cur, c, lo, hi, bins)
          .select(col("psi").as("psi_sk"), col("kl").as("kl_sk"), col("js").as("js_sk")))
        .select(col("psi_exact"), col("kl_exact"), col("js_exact"),
          (abs(col("psi_sk") - col("psi_exact")) <= 0.01).as("psi_within_tol"),
          (abs(col("kl_sk") - col("kl_exact")) <= 0.01).as("kl_within_tol"),
          (abs(col("js_sk") - col("js_exact")) <= 0.01).as("js_within_tol"))
    },

    Query("v45_tdigest_quantiles", {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val qs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      // the digest's estimate is sketch-internal; the oracle pins the
      // exact R-7 quantile (quantile_cont parity, as v24) and the
      // engine-side rank-tolerance verdict, which must be TRUE
      "SELECT * FROM (" + cols.flatMap(c => qs.map(q =>
        s"""SELECT '$c' AS "column", CAST($q AS DOUBLE) AS q, """ +
          s"round(quantile_cont($c, $q), 6) AS p_exact, TRUE AS within_rank_tol FROM lineitem"))
        .mkString("\n UNION ALL ") + "\n) t ORDER BY \"column\", q"
    }, floor = true) { t =>
      // KLL quantile sketch (the engine's at-scale quantile path,
      // QuantileSketch). The sketch is randomized, so the oracle pins what
      // is portable: the EXACT R-7 quantile (v24 parity) plus the claim
      // that the sketch landed within 0.02 RANK error. The rank check is
      // interval-form — P(X < est) − eps ≤ q ≤ P(X ≤ est) + eps — so a
      // discrete column whose atoms carry 9% mass each (l_discount) is
      // judged fairly: an atom contributes its whole mass to the pass
      // interval. QuantileSketch.K keeps the 20-run worst case at most
      // half of the gate.
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val qs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val li = t("lineitem")
      // pass 1: ONE sketch aggregation; the collect touches |cols|×|qs|
      // scalar estimates (tiny), mirroring the PackInference pattern
      val ests: Map[(String, Double), Double] =
        ColumnStats.quantileDigest(li, cols, qs)
          .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      // pass 2: ONE exact aggregation — R-7 quantiles + the rank interval
      // of each estimate via counter sums against literal estimates
      val aggs = cols.flatMap { c =>
        expr(s"percentile($c, array(${qs.map(q => s"${q}D").mkString(",")}))").as(s"${c}__p") +:
          qs.zipWithIndex.flatMap { case (q, i) =>
            val e = ests((c, q))
            Seq(sum((col(c) < e).cast("long")).as(s"${c}__lt_$i"),
              sum((col(c) <= e).cast("long")).as(s"${c}__le_$i"))
          }
      } :+ count(lit(1)).as("__n")
      val row = li.agg(aggs.head, aggs.tail: _*)
      val out = cols.flatMap { c => qs.zipWithIndex.map { case (q, i) =>
        struct(lit(c).as("column"), lit(q).as("q"),
          round(element_at(col(s"${c}__p"), i + 1), 6).as("p_exact"),
          (col(s"${c}__lt_$i").cast("double") / col("__n") - lit(0.02) <= lit(q) &&
            lit(q) <= col(s"${c}__le_$i").cast("double") / col("__n") + lit(0.02))
            .as("within_rank_tol"))
      }}
      row.select(explode(array(out: _*)).as("s")).select("s.*").orderBy("column", "q")
    },

    Query("v46_param_styles",
      """WITH pw AS (
        |  SELECT p_partkey, string_split(p_name, ' ') AS ws, p_name
        |  FROM part WHERE p_partkey <= 200),
        |w AS (
        |  SELECT p_partkey, unnest(ws) AS v, unnest(range(1, len(ws)+1)) AS i FROM pw)
        |SELECT * FROM (
        |  SELECT p_partkey, c.kase, i::VARCHAR AS k, v
        |  FROM w CROSS JOIN (VALUES ('arr_form'),('arr_space'),('arr_pipe'),('arr_label'),
        |    ('arr_label_x'),('arr_matrix'),('arr_matrix_x')) c(kase)
        |  UNION ALL
        |  SELECT p_partkey, 'arr_single', '1', ws[1] FROM pw
        |  UNION ALL
        |  SELECT p_partkey, 'arr_matrix_raw', '1', p_name FROM pw
        |  UNION ALL
        |  SELECT p_partkey, c.kase, 'k' || (i-1)::VARCHAR, v
        |  FROM w CROSS JOIN (VALUES ('obj_form'),('obj_simple_x'),('obj_label'),
        |    ('obj_matrix_x'),('obj_deep')) c(kase)
        |) t ORDER BY p_partkey, kase, k""".stripMargin,
      floor = false) { t =>
      // OpenAPI v3 style/explode parameter DECODE as column ops
      // (OpenAPIv3.pm:148-253 semantics; t/openapiv3-style-explode.t
      // fixtures pinned in ParamStylesSpec). Encoded strings are built
      // from p_name's words, decoded by every style, and exploded to
      // (row, case, position/key, item) — DuckDB independently rebuilds
      // the expected decode from the same words, so a delimiter slip in
      // any style family breaks the hash
      import graft.functions.ParamStyles._
      val p = t("part").where(col("p_partkey") <= 200)
        .select(col("p_partkey"), split(col("p_name"), " ").as("ws"), col("p_name"))
      def arrCase(kase: String, enc: Column, dec: Column => Column): DataFrame =
        p.select(col("p_partkey"), lit(kase).as("kase"), posexplode(dec(enc)))
          .select(col("p_partkey"), col("kase"),
            (col("pos") + 1).cast("string").as("k"), col("col").as("v"))
      def objCase(kase: String, enc: Column, dec: Column => Column): DataFrame =
        p.select(col("p_partkey"), lit(kase).as("kase"), explode(dec(enc)))
          .select(col("p_partkey"), col("kase"), col("key").as("k"), col("value").as("v"))
      def joinWs(sep: String) = array_join(col("ws"), sep)
      // alternating k{i},w{i} pair list (object non-explode form)
      def interWs(sep: String) = array_join(flatten(transform(col("ws"),
        (w, i) => array(concat(lit("k"), i.cast("string")), w))), sep)
      // k{i}=w{i} pieces (object explode forms)
      def kvWs(sep: String) = array_join(transform(col("ws"),
        (w, i) => concat(lit("k"), i.cast("string"), lit("="), w)), sep)
      // p[k{i}]=w{i} query pairs (deepObject)
      val deepWs = array_join(transform(col("ws"),
        (w, i) => concat(lit("p[k"), i.cast("string"), lit("]="), w)), "&")
      val cases = Seq(
        arrCase("arr_form", joinWs(","), decodeStyleArray(_, "form", explode = false)),
        arrCase("arr_space", col("p_name"), decodeStyleArray(_, "spaceDelimited", explode = false)),
        arrCase("arr_pipe", joinWs("|"), decodeStyleArray(_, "pipeDelimited", explode = false)),
        arrCase("arr_single", element_at(col("ws"), 1), decodeStyleArray(_, "simple", explode = false)),
        arrCase("arr_label", concat(lit("."), joinWs(",")), decodeStyleArray(_, "label", explode = false)),
        arrCase("arr_label_x", concat(lit("."), joinWs(".")), decodeStyleArray(_, "label", explode = true)),
        arrCase("arr_matrix", concat(lit(";p="), joinWs(",")), decodeStyleArray(_, "matrix", explode = false, "p")),
        arrCase("arr_matrix_x", concat(lit(";p="), joinWs(";p=")), decodeStyleArray(_, "matrix", explode = true, "p")),
        // missing matrix prefix: the un-switched separator never matches →
        // the raw value survives as a single item (reference split parity)
        arrCase("arr_matrix_raw", col("p_name"), decodeStyleArray(_, "matrix", explode = false, "p")),
        objCase("obj_form", interWs(","), decodeStyleObject(_, "form", explode = false)),
        objCase("obj_simple_x", kvWs(","), decodeStyleObject(_, "simple", explode = true)),
        objCase("obj_label", concat(lit("."), interWs(".")), decodeStyleObject(_, "label", explode = false)),
        objCase("obj_matrix_x", concat(lit(";"), kvWs(";")), decodeStyleObject(_, "matrix", explode = true)),
        objCase("obj_deep", concat(deepWs, lit("&zz=1")), decodeDeepObject(_, "p")))
      cases.reduce(_ unionByName _).orderBy("p_partkey", "kase", "k")
    },

    Query("v34_violation_samples",
      // v02's violation rows → the same portable md5-window rank hash →
      // K smallest payloads per rule via an ordered list aggregate
      """WITH v AS (
        | SELECT o_orderkey, '/o_orderstatus' AS path, 'enum' AS rule_id, o_orderstatus AS observed
        |  FROM orders WHERE o_orderstatus NOT IN ('O','F')
        | UNION ALL
        | SELECT o_orderkey, '/o_orderpriority', 'pattern', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |),
        |h AS (SELECT path, rule_id,
        |  ('0x' || substr(md5('0:' || concat_ws('|', o_orderkey::VARCHAR, path, rule_id, observed)), 1, 8))::BIGINT AS hk,
        |  o_orderkey::VARCHAR AS payload FROM v)
        |SELECT path, rule_id, count(*) AS n_violations,
        | array_to_string((list(payload ORDER BY hk, payload))[1:5], ',') AS sample_ids
        |FROM h GROUP BY path, rule_id ORDER BY path, rule_id""".stripMargin,
      floor = false) { t =>
      // bounded violation sink: exact per-rule counts + deterministic
      // hash-ordered ≤5 exemplar ids via the K-bounded TopKSketch
      // aggregate (no window, no per-rule sort — the shuffle carries at
      // most K rows per rule per map task); keyed on observed (not the
      // engine-rendered message) so the oracle replays the identical hash
      Violations.sampleViolations(
          Violations.validate(t("orders"), ordersPack, Seq("o_orderkey")),
          Seq("o_orderkey"), perRuleK = 5,
          keyCols = Seq("path", "rule_id", "observed"))
        .select(col("path"), col("rule_id"), col("n_violations"),
          array_join(col("sample_ids"), ",").as("sample_ids"))
        .orderBy("path", "rule_id")
    },

    Query("v04_referential_missing",
      """SELECT DISTINCT user_id FROM events
        |WHERE user_id IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = user_id AND c_custkey < 100)
        |ORDER BY user_id""".stripMargin,
      floor = false) { t =>
      val dim = t("customer").where(col("c_custkey") < 100)
      Referential.violations(t("events"), "user_id", dim, "c_custkey")
        .select("user_id").distinct().orderBy("user_id")
    },

    Query("v05_referential_salted",
      """SELECT DISTINCT user_id FROM events
        |WHERE user_id IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = user_id AND c_custkey < 100)
        |ORDER BY user_id""".stripMargin,
      floor = false) { t =>
      val dim = t("customer").where(col("c_custkey") < 100)
      Referential.violationsSalted(t("events"), "user_id", dim, "c_custkey",
          saltBy = "event_id", saltBuckets = 8)
        .select("user_id").distinct().orderBy("user_id")
    },

    Query("v06_profile_lineitem", {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_returnflag", "l_linestatus")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n_nonnull,
           | count(*) - count($c) AS n_null,
           | CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str FROM lineitem""".stripMargin)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) t ORDER BY col_name")
    }, floor = false) { t =>
      ColumnStats.profile(t("lineitem"),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_returnflag", "l_linestatus"))
        .withColumnRenamed("column", "col_name")
        .orderBy("col_name")
    },

    Query("v07_drift_hist_quantity",
      """WITH binned AS (
        | SELECT CAST(least(greatest(floor((l_quantity - 1)/5.0), 0), 9) AS INT) AS bin,
        |        l_shipdate < TIMESTAMP '1998-01-01' AS is_ref
        | FROM lineitem WHERE l_quantity IS NOT NULL),
        |r AS (SELECT bin, count(*) AS n_ref FROM binned WHERE is_ref GROUP BY bin),
        |c AS (SELECT bin, count(*) AS n_cur FROM binned WHERE NOT is_ref GROUP BY bin)
        |SELECT COALESCE(r.bin, c.bin) AS bin, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
        |FROM r FULL OUTER JOIN c ON r.bin = c.bin ORDER BY bin""".stripMargin,
      floor = false) { t =>
      val li = t("lineitem")
      val first = Drift.histogram(li.where(col("l_shipdate") < lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      val second = Drift.histogram(li.where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      first.withColumnRenamed("n", "n_ref")
        .join(second.withColumnRenamed("n", "n_cur"), Seq("bin"), "full_outer")
        .select(col("bin"), coalesce(col("n_ref"), lit(0L)).as("n_ref"), coalesce(col("n_cur"), lit(0L)).as("n_cur"))
        .orderBy("bin")
    },

    Query("v08_drift_psi_quantity",
      """WITH binned AS (
        | SELECT CAST(least(greatest(floor((l_quantity - 1)/5.0), 0), 9) AS INT) AS bin,
        |        l_shipdate < TIMESTAMP '1998-01-01' AS is_ref
        | FROM lineitem WHERE l_quantity IS NOT NULL),
        |r AS (SELECT bin, count(*) AS n FROM binned WHERE is_ref GROUP BY bin),
        |c AS (SELECT bin, count(*) AS n FROM binned WHERE NOT is_ref GROUP BY bin),
        |rt AS (SELECT sum(n) AS t FROM r), ct AS (SELECT sum(n) AS t FROM c),
        |j AS (SELECT COALESCE(r.bin, c.bin) AS bin,
        |       greatest(COALESCE(r.n, 0)::DOUBLE / (SELECT t FROM rt), 1e-6) AS p,
        |       greatest(COALESCE(c.n, 0)::DOUBLE / (SELECT t FROM ct), 1e-6) AS q
        |      FROM r FULL OUTER JOIN c ON r.bin = c.bin)
        |SELECT round(sum((p - q) * ln(p / q)), 6) AS psi FROM j""".stripMargin,
      floor = false) { t =>
      val li = t("lineitem")
      val first = Drift.histogram(li.where(col("l_shipdate") < lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      val second = Drift.histogram(li.where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      Drift.psi(first, second).select(round(col("psi"), 6).as("psi"))
    },

    Query("v13_drift_kl",
      """WITH binned AS (
        | SELECT CAST(least(greatest(floor((l_quantity - 1)/5.0), 0), 9) AS INT) AS bin,
        |        l_shipdate < TIMESTAMP '1998-01-01' AS is_ref
        | FROM lineitem WHERE l_quantity IS NOT NULL),
        |r AS (SELECT bin, count(*) AS n FROM binned WHERE is_ref GROUP BY bin),
        |c AS (SELECT bin, count(*) AS n FROM binned WHERE NOT is_ref GROUP BY bin),
        |rt AS (SELECT sum(n) AS t FROM r), ct AS (SELECT sum(n) AS t FROM c),
        |j AS (SELECT COALESCE(r.bin, c.bin) AS bin,
        |       greatest(COALESCE(r.n, 0)::DOUBLE / (SELECT t FROM rt), 1e-6) AS p,
        |       greatest(COALESCE(c.n, 0)::DOUBLE / (SELECT t FROM ct), 1e-6) AS q
        |      FROM r FULL OUTER JOIN c ON r.bin = c.bin)
        |SELECT round(sum(p * ln(p / q)), 6) AS kl FROM j""".stripMargin,
      floor = false) { t =>
      val li = t("lineitem")
      val first = Drift.histogram(li.where(col("l_shipdate") < lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      val second = Drift.histogram(li.where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      Drift.kl(first, second).select(round(col("kl"), 6).as("kl"))
    },

    Query("v15_drift_js",
      """WITH binned AS (
        | SELECT CAST(least(greatest(floor((l_quantity - 1)/5.0), 0), 9) AS INT) AS bin,
        |        l_shipdate < TIMESTAMP '1998-01-01' AS is_ref
        | FROM lineitem WHERE l_quantity IS NOT NULL),
        |r AS (SELECT bin, count(*) AS n FROM binned WHERE is_ref GROUP BY bin),
        |c AS (SELECT bin, count(*) AS n FROM binned WHERE NOT is_ref GROUP BY bin),
        |rt AS (SELECT sum(n) AS t FROM r), ct AS (SELECT sum(n) AS t FROM c),
        |j AS (SELECT COALESCE(r.bin, c.bin) AS bin,
        |       greatest(COALESCE(r.n, 0)::DOUBLE / (SELECT t FROM rt), 1e-6) AS p,
        |       greatest(COALESCE(c.n, 0)::DOUBLE / (SELECT t FROM ct), 1e-6) AS q
        |      FROM r FULL OUTER JOIN c ON r.bin = c.bin),
        |jm AS (SELECT p, q, (p + q) / 2 AS m FROM j)
        |SELECT round(sum(p * ln(p / m) * 0.5 + q * ln(q / m) * 0.5), 6) AS js FROM jm""".stripMargin,
      floor = false) { t =>
      // Jensen–Shannon over the same split as v13 — the bounded symmetric
      // member of the drift family (PSI v08, KL v13, JS here)
      val li = t("lineitem")
      val first = Drift.histogram(li.where(col("l_shipdate") < lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      val second = Drift.histogram(li.where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")), "l_quantity", 1, 51, 10)
      Drift.js(first, second).select(round(col("js"), 6).as("js"))
    },

    Query("v14_map_rules",
      """WITH parsed AS (
        | SELECT event_id, CAST(NULLIF(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1), '') AS INTEGER) AS k FROM events)
        |SELECT * FROM (
        | SELECT event_id, '/k' AS path, 'minimum' AS rule_id, CAST(k AS VARCHAR) AS observed
        |  FROM parsed WHERE k < 10
        | UNION ALL SELECT event_id, '/k', 'maximum', CAST(k AS VARCHAR)
        |  FROM parsed WHERE k > 80
        |) t ORDER BY event_id, path""".stripMargin,
      floor = true) { t =>
      // the same nested-JSON rule as v11 but through the MAP path: dynamic
      // keys via from_json to map<string,int> (the reference's hash regime)
      val ev = t("events")
        .withColumn("p", from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)))
      val rule = All(Seq(Required(Seq("k")),
        Properties(Seq("k" -> All(Seq(Minimum(10), Maximum(80)))))))
      Violations.validateColumn(ev, rule, "p", Seq("event_id"))
        .select("event_id", "path", "rule_id", "observed")
        .orderBy("event_id", "path")
    },

    Query("v09_format_battery", {
      // '' = escaped single quote inside the SQL string literal
      val emailAtom = "[a-zA-Z0-9_!#$%&''*+/=?^`{}~|\\-]+"
      val emailRe = s"^(?:$emailAtom(?:\\.$emailAtom)*)@(?:$emailAtom(?:\\.$emailAtom)*)$$"
      s"""SELECT id, s,
         | (regexp_matches(s, '^\\d{4}-\\d\\d-\\d\\d$$') AND try_cast(s AS DATE) IS NOT NULL) AS is_date,
         | regexp_matches(s, '$emailRe') AS is_email,
         | regexp_matches(s, '^((25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)\\.){3}(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)$$') AS is_ipv4,
         | regexp_matches(s, '^[A-Za-z0-9+/=]+$$') AS is_byte,
         | regexp_matches(s, '^[0-9A-Fa-f]{8}-[0-9A-Fa-f]{4}-[0-9][0-9A-Fa-f]{3}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{12}$$') AS is_uuid,
         | (length(s) = 0 OR regexp_matches(s, '^/')) AS is_jsonptr,
         | (regexp_matches(s, '^(\\d\\d):(\\d\\d):(\\d\\d)(\\.\\d+)?([Zz]|[+-]\\d+:\\d+)?$$')
         |   AND substr(s,1,2) < '24' AND substr(s,4,2) < '60' AND substr(s,7,2) <= '60') AS is_time
         |FROM (VALUES (1,'2024-02-29'),(2,'2023-02-29'),(3,'user@example.com'),(4,'not an email'),
         | (5,'10.0.0.1'),(6,'999.1.1.1'),(7,'01.2.3.4'),(8,'A1b2+/=='),(9,'spa ce'),
         | (10,'123e4567-e89b-12d3-a456-426614174000'),(11,'123e4567-e89b-x2d3-a456-426614174000'),
         | (12,'/foo/bar'),(13,'foo'),(14,'23:59:59'),(15,'24:00:00')) AS t(id, s)
         |ORDER BY id""".stripMargin
    }, floor = false) { t =>
      import t.spark.implicits._
      val fixtures = Seq(
        (1, "2024-02-29"), (2, "2023-02-29"), (3, "user@example.com"), (4, "not an email"),
        (5, "10.0.0.1"), (6, "999.1.1.1"), (7, "01.2.3.4"), (8, "A1b2+/=="), (9, "spa ce"),
        (10, "123e4567-e89b-12d3-a456-426614174000"), (11, "123e4567-e89b-x2d3-a456-426614174000"),
        (12, "/foo/bar"), (13, "foo"), (14, "23:59:59"), (15, "24:00:00"))
      import graft.functions.Formats
      fixtures.toDF("id", "s").select(col("id"), col("s"),
          Formats.date(col("s")).as("is_date"),
          Formats.email(col("s")).as("is_email"),
          Formats.ipv4(col("s")).as("is_ipv4"),
          Formats.byte(col("s")).as("is_byte"),
          Formats.uuid(col("s")).as("is_uuid"),
          Formats.jsonPointer(col("s")).as("is_jsonptr"),
          Formats.time(col("s")).as("is_time"))
        .orderBy("id")
    },

    Query("v10_discriminator",
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_totalprice' AS path, 'maximum' AS rule_id FROM orders
        |  WHERE o_orderstatus = 'O' AND o_totalprice > 400000
        | UNION ALL SELECT o_orderkey, '/o_totalprice', 'maximum' FROM orders
        |  WHERE o_orderstatus = 'F' AND o_totalprice > 450000
        | UNION ALL SELECT o_orderkey, '/o_totalprice', 'maximum' FROM orders
        |  WHERE o_orderstatus = 'P' AND o_totalprice > 300000
        |) t ORDER BY o_orderkey""".stripMargin,
      floor = false) { t =>
      val rule = Discriminator("o_orderstatus", Seq(
        "O" -> Properties(Seq("o_totalprice" -> Maximum(400000))),
        "F" -> Properties(Seq("o_totalprice" -> Maximum(450000))),
        "P" -> Properties(Seq("o_totalprice" -> Maximum(300000)))))
      Violations.validate(t("orders"), rule, Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id")
        .orderBy("o_orderkey")
    },

    Query("v11_nested_json",
      """WITH parsed AS (
        | SELECT event_id, CAST(NULLIF(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1), '') AS INTEGER) AS k FROM events)
        |SELECT * FROM (
        | SELECT event_id, '/k' AS path, 'minimum' AS rule_id, CAST(k AS VARCHAR) AS observed
        |  FROM parsed WHERE k < 10
        | UNION ALL SELECT event_id, '/k', 'maximum', CAST(k AS VARCHAR)
        |  FROM parsed WHERE k > 80
        |) t ORDER BY event_id, path""".stripMargin,
      floor = true) { t =>
      // semi-structured: parse the JSON props column, validate the nested
      // struct field with the same compiler (struct targets are native)
      val ev = t("events")
        .withColumn("p", from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)))))
      val rule = Properties(Seq("k" -> All(Seq(Minimum(10), Maximum(80)))))
      Violations.validateColumn(ev, rule, "p", Seq("event_id"))
        .select("event_id", "path", "rule_id", "observed")
        .orderBy("event_id", "path")
    },

    Query("v12_coerce_numbers",
      """WITH coerced AS (
        | SELECT event_id,
        |  CASE WHEN regexp_matches(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1),
        |            '^-?(0|[1-9]\d*)(\.\d+)?([eE][+-]?\d+)?$')
        |       THEN CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1) AS DOUBLE) END AS k_num
        | FROM events)
        |SELECT k_num >= 50 AS k_ge_50, count(*) AS n,
        | round(sum(CAST(k_num AS DECIMAL(20,4))),2)::DOUBLE AS sum_k
        |FROM coerced GROUP BY 1 ORDER BY 1 ASC NULLS FIRST""".stripMargin,
      floor = false) { t =>
      // coercion projection (reference coerce('numbers')): the JSON props
      // value arrives as a string; the strict JSON-number regex admits it
      // into a typed column, junk becomes NULL — non-mutating repair
      val ev = t("events")
        .withColumn("k_str", regexp_extract(col("props"), "\"k\"\\s*:\\s*(-?\\d+)", 1))
      val coerced = core.Coerce(ev.select(col("event_id"), col("k_str").as("k_num")),
        Map("k_num" -> core.Coerce.ToNumber))
      coerced.groupBy((col("k_num") >= 50).as("k_ge_50"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("k_num").cast("decimal(20,4)")), 2).cast("double").as("sum_k"))
        .orderBy(col("k_ge_50").asc_nulls_first)
    },

    Query("v16_combinators",
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_totalprice' AS path, 'maximum' AS rule_id,
        |   CAST(o_totalprice AS VARCHAR) || ' > maximum(450000)' AS message,
        |   CAST(o_totalprice AS VARCHAR) AS observed
        |  FROM orders WHERE o_totalprice >= 300000 AND o_totalprice > 450000
        | UNION ALL SELECT o_orderkey, '/o_totalprice', 'minimum',
        |   CAST(o_totalprice AS VARCHAR) || ' < minimum(50000)', CAST(o_totalprice AS VARCHAR)
        |  FROM orders WHERE o_totalprice < 300000 AND o_totalprice < 50000
        | UNION ALL SELECT o_orderkey, '/o_orderpriority', 'all_rules_match',
        |   'All of the oneOf rules match.', o_orderpriority
        |  FROM orders WHERE regexp_matches(o_orderpriority, '^[1-2]-')
        | UNION ALL SELECT o_orderkey, '/o_orderpriority', 'pattern',
        |   '/oneOf/0 String does not match ^[1-2]-.', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        | UNION ALL SELECT o_orderkey, '/o_orderpriority', 'pattern',
        |   '/oneOf/1 String does not match ^[1-3]-.', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        | UNION ALL SELECT o_orderkey, '/o_orderstatus', 'not', 'Should not match.', o_orderstatus
        |  FROM orders WHERE o_orderstatus = 'P'
        |) t ORDER BY o_orderkey, path, rule_id, message""".stripMargin,
      floor = true) { t =>
      Violations.validate(t("orders"), combinatorPack, Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id", "message", "observed")
        .orderBy("o_orderkey", "path", "rule_id", "message")
    },

    Query("v17_map_closed_world",
      """WITH all_ev AS (
        | SELECT event_id, props FROM events
        | UNION ALL SELECT * FROM (VALUES
        |  (900001, '{"k": 42, "extra": 1}'),
        |  (900002, '{"k": 42, "Bad-Key": 2, "zz9": 3}'),
        |  (900003, '{"kk": 5, "k": 1}'),
        |  (900004, '{"k": 12, "x_opt": 7}')) AS t(event_id, props)),
        |k AS (SELECT event_id, regexp_extract_all(props, '"([^"]+)"\s*:', 1) AS keys FROM all_ev),
        |x AS (SELECT event_id, keys,
        |  list_sort(list_filter(keys, kk -> kk <> 'k' AND NOT regexp_matches(kk, '^x_'))) AS extras
        | FROM k)
        |SELECT * FROM (
        | SELECT event_id, '/' AS path, 'additionalProperties' AS rule_id,
        |   'Properties not allowed: ' || array_to_string(extras, ', ') || '.' AS message
        | FROM x WHERE len(extras) > 0
        | UNION ALL
        | SELECT event_id, '/', 'pattern', 'String does not match ^[a-z][a-z0-9_]*$.'
        | FROM (SELECT event_id, unnest(keys) AS kk FROM k) u
        | WHERE NOT regexp_matches(kk, '^[a-z][a-z0-9_]*$')
        | UNION ALL
        | SELECT event_id, '/', 'maxProperties',
        |   'Too many properties: ' || len(keys)::VARCHAR || '/2.'
        | FROM k WHERE len(keys) > 2
        |) t ORDER BY event_id, path, rule_id, message""".stripMargin,
      floor = true) { t =>
      import t.spark.implicits._
      // dynamic-object keyword battery over MapType (the reference's native
      // hash regime): closed-world additionalProperties, propertyNames and
      // maxProperties with RUNTIME keys. Key-violating fixtures ride along
      // (the synthetic props only ever carry key "k").
      val fixtures = Seq(
        (900001L, """{"k": 42, "extra": 1}"""),
        (900002L, """{"k": 42, "Bad-Key": 2, "zz9": 3}"""),
        (900003L, """{"kk": 5, "k": 1}"""),
        (900004L, """{"k": 12, "x_opt": 7}"""))
        .toDF("event_id", "props")
      val ev = t("events").select("event_id", "props").unionByName(fixtures)
        .withColumn("p", from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)))
      val rule = All(Seq(
        ClosedWorld(Seq("k"), Seq("^x_"), None),   // additionalProperties: false, patternProperties ^x_
        PropertyNames(Pattern("^[a-z][a-z0-9_]*$")),
        MaxProperties(2)))
      // observed is omitted: it renders the whole map (engine-specific text)
      Violations.validateColumn(ev, rule, "p", Seq("event_id"))
        .select("event_id", "path", "rule_id", "message")
        .orderBy("event_id", "path", "rule_id", "message")
    },

    Query("v51_profile_diff", {
      def added(c: String, from: String, vs: String) =
        s"""CASE WHEN (SELECT count(DISTINCT $c) FROM $from) <= 16 THEN
           | (SELECT coalesce(to_json(list_sort(list(DISTINCT v)))::VARCHAR, '[]')
           |  FROM (SELECT $c AS v FROM $from WHERE $c IS NOT NULL
           |        AND $c NOT IN (SELECT $c FROM $vs WHERE $c IS NOT NULL)) z)
           | ELSE NULL END""".stripMargin
      def row(c: String, numeric: Boolean) = {
        val (mno, mnn, mxo, mxn) =
          if (numeric) (s"(SELECT min($c)::DOUBLE FROM o)", s"(SELECT min($c)::DOUBLE FROM n)",
            s"(SELECT max($c)::DOUBLE FROM o)", s"(SELECT max($c)::DOUBLE FROM n)")
          else ("NULL::DOUBLE", "NULL::DOUBLE", "NULL::DOUBLE", "NULL::DOUBLE")
        val (ad, rm) =
          if (numeric) ("NULL::VARCHAR", "NULL::VARCHAR")
          else (added(c, "n", "o"), added(c, "o", "n"))
        s"""SELECT '$c' AS "column",
           | (SELECT (count(*) - count($c))::BIGINT FROM o) AS n_null_old,
           | (SELECT (count(*) - count($c))::BIGINT FROM n) AS n_null_new,
           | (SELECT count(DISTINCT $c)::BIGINT FROM o) AS n_distinct_old,
           | (SELECT count(DISTINCT $c)::BIGINT FROM n) AS n_distinct_new,
           | $mno AS min_old, $mnn AS min_new, $mxo AS max_old, $mxn AS max_new,
           | $ad AS enum_added, $rm AS enum_removed""".stripMargin
      }
      s"""WITH o AS (SELECT lang, source, n_chars FROM documents),
         |n AS (SELECT CASE WHEN doc_id % 97 = 0 THEN 'xx' ELSE lang END AS lang,
         |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE source END AS source,
         |  CASE WHEN doc_id = 0 THEN 100000 ELSE n_chars END AS n_chars
         |  FROM documents)
         |${Seq(row("lang", false), row("source", false), row("n_chars", true))
            .mkString("\nUNION ALL ")}
         |ORDER BY "column"""".stripMargin
    }, floor = false) { t =>
      // schema drift caught at profile time, BEFORE validation: the new
      // snapshot plants a new enum value (lang 'xx' on doc_id % 97), nulls
      // in source (% 50), and one widened n_chars outlier (doc 0); the
      // report's enum deltas / null counts / bounds flag exactly those
      val docs = t("documents")
      val newSnap = docs
        .withColumn("lang",
          when(pmod(col("doc_id"), lit(97)) === 0, lit("xx")).otherwise(col("lang")))
        .withColumn("source",
          when(pmod(col("doc_id"), lit(50)) === 0, lit(null).cast("string"))
            .otherwise(col("source")))
        .withColumn("n_chars",
          when(col("doc_id") === 0, lit(100000L)).otherwise(col("n_chars")))
      PackInference.profileDiff(docs, newSnap, Seq("lang", "source", "n_chars"))
        .orderBy("column")
    },

    Query("v33_pack_inference", {
      def num(c: String, jt: String) =
        s"""SELECT '$c' AS "column", '$jt' AS json_type,
           | (count(*) - count($c))::BIGINT AS n_null,
           | count(DISTINCT $c)::BIGINT AS n_distinct,
           | min($c)::DOUBLE AS min_num, max($c)::DOUBLE AS max_num,
           | NULL::VARCHAR AS enum_vals FROM documents""".stripMargin
      def str(c: String) =
        s"""SELECT '$c', 'string', (count(*) - count($c))::BIGINT,
           | count(DISTINCT $c)::BIGINT, NULL::DOUBLE, NULL::DOUBLE,
           | CASE WHEN count(DISTINCT $c) <= 16
           |   THEN to_json(list_sort(list(DISTINCT $c)))::VARCHAR
           |   ELSE NULL END FROM documents""".stripMargin
      Seq(num("doc_id", "integer"), str("lang"), str("source"),
        num("n_chars", "integer")).mkString("", "\nUNION ALL ", "\nORDER BY \"column\"")
    }, floor = false) { t =>
      // rule-pack INFERENCE: the one-pass profile artifact a new corpus's
      // first pack derives from (types from schema, bounds from data,
      // enums for low-cardinality strings); the infer() law — the pack
      // validates its own corpus violation-free — is spec-pinned
      PackInference.inferredProfile(t("documents"),
          Seq("doc_id", "lang", "source", "n_chars"), enumThreshold = 16)
        .orderBy("column")
    },

    Query("v29_rulepack_yaml",
      // same semantics as v01, arrived at through the YAML front door
      """SELECT * FROM (
        | SELECT '/l_quantity' AS path, 'maximum' AS rule_id, count(*) AS n_violations FROM lineitem WHERE l_quantity > 45
        | UNION ALL SELECT '/l_quantity', 'minimum', count(*) FROM lineitem WHERE l_quantity < 1
        | UNION ALL SELECT '/l_discount', 'maximum', count(*) FROM lineitem WHERE l_discount > 0.05
        | UNION ALL SELECT '/l_tax', 'maximum', count(*) FROM lineitem WHERE l_tax > 0.1
        | UNION ALL SELECT '/l_returnflag', 'enum', count(*) FROM lineitem WHERE l_returnflag NOT IN ('A','N')
        | UNION ALL SELECT '/l_linestatus', 'enum', count(*) FROM lineitem WHERE l_linestatus NOT IN ('O','F')
        |) t WHERE n_violations > 0 ORDER BY path, rule_id""".stripMargin,
      floor = false) { t =>
      // YAML front door (str2data sniffing, reference Util.pm:163-167):
      // the v01 lineitem pack expressed as YAML must produce identical
      // rule counts
      val pack = rulepack.RulePack.parseYaml(
        """type: object
          |properties:
          |  l_quantity:
          |    minimum: 1
          |    maximum: 45
          |  l_discount:
          |    maximum: 0.05
          |  l_tax:
          |    maximum: 0.1
          |  l_returnflag:
          |    enum: ["A", "N"]
          |  l_linestatus:
          |    enum: ["O", "F"]
          |required: ["l_orderkey", "l_partkey"]""".stripMargin)
      Violations.ruleCounts(
        Violations.validate(t("lineitem"), pack, Seq("l_orderkey")))
        .orderBy("path", "rule_id")
    },

    Query("v30_rulepack_bundle",
      // same semantics as v02, arrived at through encode → re-parse
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_orderstatus' AS path, 'enum' AS rule_id, o_orderstatus AS observed
        |  FROM orders WHERE o_orderstatus NOT IN ('O','F')
        | UNION ALL
        | SELECT o_orderkey, '/o_orderpriority', 'pattern', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |) t ORDER BY o_orderkey, path""".stripMargin,
      floor = false) { t =>
      // bundle round-trip in the gate: encode the resolved pack to a
      // self-contained JSON document (Schema.pm:44-65 bundle semantics),
      // re-parse it, and the violations must still hash-match
      val bundled = rulepack.RulePackEncoder.encodeToJson(ordersPack)
      Violations.validate(t("orders"), rulepack.RulePack.parse(bundled), Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id", "observed")
        .orderBy("o_orderkey", "path")
    },

    Query("v31_coerce_defaults",
      """WITH all_ev AS (
        | SELECT event_id, props FROM events
        | UNION ALL SELECT * FROM (VALUES (900001, '{}'), (900002, '{"z": 9}')) AS t(event_id, props)),
        |parsed AS (SELECT event_id,
        |  CAST(NULLIF(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1), '') AS INTEGER) AS k FROM all_ev)
        |SELECT event_id, COALESCE(k, 50) AS k_coerced FROM parsed ORDER BY event_id""".stripMargin,
      floor = true) { t =>
      import t.spark.implicits._
      // defaults coercion (non-mutating repair projection): a missing map
      // key takes the schema default; fixtures supply the missing-key rows
      val fixtures = Seq((900001L, """{}"""), (900002L, """{"z": 9}"""))
        .toDF("event_id", "props")
      val ev = t("events").select("event_id", "props").unionByName(fixtures)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      ev.select(col("event_id"),
          core.Coerce.defaults(col("k"), core.JInt(50), org.apache.spark.sql.types.IntegerType)
            .as("k_coerced"))
        .orderBy("event_id")
    },

    Query("v32_joi_pack",
      """SELECT * FROM (
        | SELECT c_custkey, '/c_acctbal' AS path, 'minimum' AS rule_id,
        |   CAST(c_acctbal AS VARCHAR) || ' < minimum(0)' AS message,
        |   CAST(c_acctbal AS VARCHAR) AS observed
        |  FROM customer WHERE c_acctbal < 0
        | UNION ALL SELECT c_custkey, '/c_name', 'pattern',
        |   'String does not match ^Customer#.', c_name
        |  FROM customer WHERE NOT regexp_matches(c_name, '^Customer#')
        |) t ORDER BY c_custkey, path""".stripMargin,
      floor = false) { t =>
      // the Joi fluent builder front door: lowers to the same Rule ADT and
      // through the same compiler (reference Joi.pm:29-40 compile)
      import graft.joi.joi
      val pack = joi.obj.props(
        "c_acctbal" -> joi.number.positive,
        "c_name" -> joi.string.pattern("^Customer#")).rule
      Violations.validate(t("customer"), pack, Seq("c_custkey"))
        .select("c_custkey", "path", "rule_id", "message", "observed")
        .orderBy("c_custkey", "path")
    },

    Query("v28_skew_report",
      """WITH c AS (SELECT user_id, count(*) AS n FROM events
        |           WHERE user_id IS NOT NULL GROUP BY user_id),
        |t AS (SELECT sum(n)::DOUBLE AS total FROM c)
        |SELECT user_id, n, round(n::DOUBLE / (SELECT total FROM t), 6) AS share6
        |FROM c ORDER BY n DESC, user_id LIMIT 10""".stripMargin,
      floor = false) { t =>
      // the measurement behind the broadcast/shuffle/SALT ladder: heaviest
      // join keys and their row share (v05's salting is the remedy)
      Referential.keySkewReport(t("events"), "user_id", k = 10)
        .select(col("user_id"), col("n"), round(col("share"), 6).as("share6"))
        .orderBy(col("n").desc, col("user_id"))
    },

    Query("v27_rulepack_e2e",
      // identical semantics to v02, arrived at through parse + $ref
      // resolution instead of the Scala rule ADT
      """SELECT * FROM (
        | SELECT o_orderkey, '/o_orderstatus' AS path, 'enum' AS rule_id, o_orderstatus AS observed
        |  FROM orders WHERE o_orderstatus NOT IN ('O','F')
        | UNION ALL
        | SELECT o_orderkey, '/o_orderpriority', 'pattern', o_orderpriority
        |  FROM orders WHERE NOT regexp_matches(o_orderpriority, '^[1-3]-')
        |) t ORDER BY o_orderkey, path""".stripMargin,
      floor = false) { t =>
      // the full front door in the oracle gate: a JSON rule pack with a
      // $ref through $defs is PARSED + RESOLVED (driver-side, reference
      // Schema.pm:102-147 semantics) and must compile to exactly the rules
      // the v02 oracle describes — same violations, different entry path
      val pack = rulepack.RulePack.parse(
        """{"type": "object",
          |  "$defs": {"status": {"enum": ["O", "F"]}},
          |  "properties": {
          |    "o_orderstatus": {"$ref": "#/$defs/status"},
          |    "o_orderpriority": {"pattern": "^[1-3]-"}}}""".stripMargin)
      Violations.validate(t("orders"), pack, Seq("o_orderkey"))
        .select("o_orderkey", "path", "rule_id", "observed")
        .orderBy("o_orderkey", "path")
    },

    Query("v26_verdict_by_source",
      """WITH f AS (SELECT source,
        |  CASE WHEN lang NOT IN ('en','de') OR n_chars > 500 THEN 1 ELSE 0 END AS failed
        | FROM documents)
        |SELECT source, count(*) AS n_rows,
        | sum(failed)::BIGINT AS n_failed,
        | (count(*) - sum(failed))::BIGINT AS n_passed,
        | CASE WHEN sum(failed) = 0 THEN 'pass' ELSE 'fail' END AS verdict
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
      floor = false) { t =>
      // the north rule's headline output: per-data-partition pass/fail
      // verdicts — one partial-aggregated job, counters-only shuffle
      Violations.verdictByPartition(t("documents"),
          Properties(Seq(
            "lang" -> Enum(Seq(core.JStr("en"), core.JStr("de"))),
            "n_chars" -> Maximum(500))), Some("source"))
        .withColumnRenamed("partition", "source")
        .orderBy("source")
    },

    Query("v25_uri_battery", {
      import graft.functions.Formats
      // the RFC3986 split regex (all-optional groups: matches any string)
      val P = """^(([^:/?#]+):)?(//([^/?#]*))?([^?#]*)(\?([^#]*))?(#(.*))?"""
      def g(i: Int) = s"regexp_extract(s, '$P', $i)"
      val hasAuth = """regexp_matches(s, '^([^:/?#]+:)?//')"""
      val uriref =
        s"""((len(${g(2)}) > 0 OR NOT $hasAuth OR len(${g(4)}) = 0)
           | AND (regexp_matches(s, '#') OR len(${g(5)}) > 0 OR len(${g(2)}) > 0)
           | AND (len(${g(2)}) = 0 OR regexp_matches(${g(2)}, '^[A-Za-z][A-Za-z0-9+\\-.]*$$'))
           | AND NOT regexp_matches(s, '%[^0-9A-Fa-f]')
           | AND NOT regexp_matches(s, '%[0-9A-Fa-f]([^0-9A-Fa-f]|$$)')
           | AND CASE WHEN $hasAuth AND len(${g(4)}) > 0
           |      THEN (len(${g(5)}) = 0 OR regexp_matches(${g(5)}, '^/'))
           |      ELSE NOT regexp_matches(${g(5)}, '^//') END)""".stripMargin
      val iriSql = s"(regexp_matches(s, '^\\w+:') AND $uriref)"
      val emailAtom = "[a-zA-Z0-9_!#$%&''*+/=?^`{}~|\\-]+"
      val emailRe = s"^(?:$emailAtom(?:\\.$emailAtom)*)@(?:$emailAtom(?:\\.$emailAtom)*)$$"
      s"""SELECT id, s,
         | (NOT regexp_matches(s, '[^\\x00-\\x7F]')
         |  AND regexp_matches(s, '^[A-Za-z][A-Za-z0-9+\\-.]*:') AND $uriref) AS is_uri,
         | $uriref AS is_uriref,
         | $iriSql AS is_iri,
         | $iriSql AS is_uritmpl,
         | ((len(s) BETWEEN 1 AND 253 AND regexp_matches(s, '${Formats.hostnameLabelsRe}'))
         |  OR regexp_matches(s, '^[^\\x00-\\x7F].*')) AS is_idnhost,
         | (regexp_matches(s, '$emailRe')
         |  OR (regexp_matches(s, '^[^@]+@[^@]+$$') AND regexp_matches(s, '[^\\x00-\\x7F]'))) AS is_idnemail
         |FROM (VALUES (1,'http://example.com/a/b?x=1#frag'),(2,'/relative/path'),
         | (3,'//host/path'),(4,'http://ex%zzample.com'),(5,'ht tp://x'),
         | (6,'mailto:user@example.com'),(7,'pré/vu'),(8,'x:'),
         | (9,'#frag'),(10,''),(11,'http://ex.com/{id}'),
         | (12,'ünchen.example'),(13,'example.com'),
         | (14,'üser@example.com'),(15,'user@@double.at')) AS t(id, s)
         |ORDER BY id""".stripMargin
    }, floor = false) { t =>
      import t.spark.implicits._
      // the URI family + IDN fallbacks: RFC3986 structural checks (scheme
      // shape, authority/path interaction, %-escape hex validity, fragment
      // rules) replicated conjunct-for-conjunct in the oracle
      val fixtures = Seq(
        (1, "http://example.com/a/b?x=1#frag"), (2, "/relative/path"),
        (3, "//host/path"), (4, "http://ex%zzample.com"), (5, "ht tp://x"),
        (6, "mailto:user@example.com"), (7, "pré/vu"), (8, "x:"),
        (9, "#frag"), (10, ""), (11, "http://ex.com/{id}"),
        (12, "ünchen.example"), (13, "example.com"),
        (14, "üser@example.com"), (15, "user@@double.at"))
      import graft.functions.Formats
      fixtures.toDF("id", "s").select(col("id"), col("s"),
          Formats.uri(col("s")).as("is_uri"),
          Formats.uriReference(col("s")).as("is_uriref"),
          Formats.iri(col("s")).as("is_iri"),
          Formats.uriTemplate(col("s")).as("is_uritmpl"),
          Formats.idnHostname(col("s")).as("is_idnhost"),
          Formats.idnEmail(col("s")).as("is_idnemail"))
        .orderBy("id")
    },

    Query("v24_percentiles",
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        | round(quantile_cont(l_quantity, 0.50), 6) AS p50,
        | round(quantile_cont(l_quantity, 0.75), 6) AS p75,
        | round(quantile_cont(l_quantity, 0.95), 6) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      floor = false) { t =>
      // EXACT per-group percentiles (R-7 interpolation in both engines) —
      // the oracle-checkable twin of the profile's percentile_approx KLL
      // sketch, which stays the at-scale path (mergeable, one-pass)
      t("lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D, 0.95D))").as("q"))
        .select(col("l_returnflag"),
          round(element_at(col("q"), 1), 6).as("p25"),
          round(element_at(col("q"), 2), 6).as("p50"),
          round(element_at(col("q"), 3), 6).as("p75"),
          round(element_at(col("q"), 4), 6).as("p95"))
        .orderBy("l_returnflag")
    },

    Query("v23_pattern_props",
      """WITH all_ev AS (
        | SELECT event_id, props FROM events
        | UNION ALL SELECT * FROM (VALUES
        |  (900001, '{"k": 50, "x_a": 3, "x_b": 99}'),
        |  (900002, '{"x_ok": 42}'),
        |  (900003, '{"y": 1}')) AS t(event_id, props)),
        |xkv AS (SELECT event_id,
        |  unnest(regexp_extract_all(props, '"(x_[^"]*)"\s*:\s*(-?\d+)', 1)) AS key,
        |  unnest(regexp_extract_all(props, '"(x_[^"]*)"\s*:\s*(-?\d+)', 2))::INT AS v
        | FROM all_ev),
        |kkv AS (SELECT event_id,
        |  unnest(regexp_extract_all(props, '"([^"]*k)"\s*:\s*(-?\d+)', 1)) AS key,
        |  unnest(regexp_extract_all(props, '"([^"]*k)"\s*:\s*(-?\d+)', 2))::INT AS v
        | FROM all_ev)
        |SELECT * FROM (
        | SELECT event_id, '/' || key AS path, 'minimum' AS rule_id,
        |   v::VARCHAR || ' < minimum(10)' AS message, v::VARCHAR AS observed
        |  FROM xkv WHERE v < 10
        | UNION ALL SELECT event_id, '/' || key, 'maximum',
        |   v::VARCHAR || ' > maximum(80)', v::VARCHAR FROM xkv WHERE v > 80
        | UNION ALL SELECT event_id, '/' || key, 'maximum',
        |   v::VARCHAR || ' > maximum(90)', v::VARCHAR FROM kkv WHERE v > 90
        |) t ORDER BY event_id, path, rule_id""".stripMargin,
      floor = true) { t =>
      import t.spark.implicits._
      // patternProperties with RUNTIME keys: every map key matching the
      // regex applies the sub-schema to its value (partial match, like the
      // reference); ^x_ keys carry bounds via fixtures, k$ keys via the
      // real corpus (k ranges above 90 exist)
      val fixtures = Seq(
        (900001L, """{"k": 50, "x_a": 3, "x_b": 99}"""),
        (900002L, """{"x_ok": 42}"""),
        (900003L, """{"y": 1}"""))
        .toDF("event_id", "props")
      val ev = t("events").select("event_id", "props").unionByName(fixtures)
        .withColumn("p", from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)))
      val rule = PatternProperties(Seq(
        "^x_" -> All(Seq(Minimum(10), Maximum(80))),
        "k$" -> Maximum(90)))
      Violations.validateColumn(ev, rule, "p", Seq("event_id"))
        .select("event_id", "path", "rule_id", "message", "observed")
        .orderBy("event_id", "path", "rule_id")
    },

    Query("v21_tuple_items",
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws FROM documents)
        |SELECT * FROM (
        | SELECT doc_id, '/0' AS path, 'minLength' AS rule_id,
        |   'String is too short: ' || len(ws[1])::VARCHAR || '/2.' AS message
        |  FROM w WHERE len(ws) >= 1 AND len(ws[1]) < 2
        | UNION ALL SELECT doc_id, '/1', 'pattern', 'String does not match ^[a-z].'
        |  FROM w WHERE len(ws) >= 2 AND NOT regexp_matches(ws[2], '^[a-z]')
        | UNION ALL SELECT doc_id, '/', 'additionalItems',
        |   'Invalid number of items: ' || len(ws)::VARCHAR || '/2.'
        |  FROM w WHERE len(ws) > 2
        |) t ORDER BY doc_id, path, rule_id""".stripMargin,
      floor = true) { t =>
      // positional (tuple) item schemas + additionalItems:false length cap
      // over each document's word list: /0 must be ≥2 chars, /1 must start
      // lowercase, anything past the tuple errs with the cap message
      val docs = t("documents")
        .withColumn("arr", TextAnalysis.words(col("text")))
      val rule = TupleItems(Seq(MinLength(2), Pattern("^[a-z]")), None)
      Violations.validateColumn(docs, rule, "arr", Seq("doc_id"))
        .select("doc_id", "path", "rule_id", "message")
        .orderBy("doc_id", "path", "rule_id")
    },

    Query("v22_map_dependencies",
      """WITH all_ev AS (
        | SELECT event_id, props FROM events
        | UNION ALL SELECT * FROM (VALUES
        |  (900001, '{"k": 5, "k2": 9}'),
        |  (900002, '{"z": 1}'),
        |  (900003, '{"k": 7}')) AS t(event_id, props)),
        |has AS (SELECT event_id,
        |  regexp_matches(props, '"k"\s*:') AS has_k,
        |  regexp_matches(props, '"k2"\s*:') AS has_k2 FROM all_ev)
        |SELECT event_id, '/k2' AS path, 'dependencies' AS rule_id,
        | 'Missing property. Dependee: k.' AS message, 'null' AS observed
        |FROM has WHERE has_k AND NOT has_k2 ORDER BY event_id""".stripMargin,
      floor = true) { t =>
      import t.spark.implicits._
      // dependentRequired with RUNTIME map keys: key "k" present demands
      // "k2"; fixtures cover satisfied / absent-dependee / violating shapes
      val fixtures = Seq(
        (900001L, """{"k": 5, "k2": 9}"""),
        (900002L, """{"z": 1}"""),
        (900003L, """{"k": 7}"""))
        .toDF("event_id", "props")
      val ev = t("events").select("event_id", "props").unionByName(fixtures)
        .withColumn("p", from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)))
      Violations.validateColumn(ev, DependentRequired(Seq("k" -> Seq("k2"))), "p", Seq("event_id"))
        .select("event_id", "path", "rule_id", "message", "observed")
        .orderBy("event_id")
    },

    Query("v20_numeric_battery",
      """SELECT * FROM (
        | SELECT l_orderkey, l_linenumber, '/l_quantity' AS path, 'multipleOf' AS rule_id,
        |   'Not multiple of 7.' AS message, CAST(l_quantity AS VARCHAR) AS observed
        |  FROM lineitem
        |  WHERE l_quantity >= 40
        |    AND NOT (abs(l_quantity/7 - round(l_quantity/7, 0)) < 1e-9 * greatest(abs(l_quantity/7), 1.0))
        | UNION ALL SELECT l_orderkey, l_linenumber, '/l_discount', 'ex_maximum',
        |   CAST(l_discount AS VARCHAR) || ' >= maximum(0.07)', CAST(l_discount AS VARCHAR)
        |  FROM lineitem WHERE l_quantity >= 40 AND NOT (l_discount < 0.07)
        | UNION ALL SELECT l_orderkey, l_linenumber, '/l_linenumber', 'ex_minimum',
        |   CAST(l_linenumber AS VARCHAR) || ' <= minimum(2)', CAST(l_linenumber AS VARCHAR)
        |  FROM lineitem WHERE l_quantity >= 40 AND NOT (l_linenumber > 2)
        |) t ORDER BY l_orderkey, l_linenumber, path""".stripMargin,
      floor = true) { t =>
      // the numeric keywords v01 left out: multipleOf (epsilon-compared on
      // doubles, replicated formula in the oracle) and draft-6 EXCLUSIVE
      // bounds with their distinct ex_minimum/ex_maximum messages
      val rule = Properties(Seq(
        "l_quantity" -> MultipleOf(7),
        "l_discount" -> Maximum(0.07, exclusive = true),
        "l_linenumber" -> Minimum(2, exclusive = true)))
      Violations.validate(t("lineitem").where(col("l_quantity") >= 40),
          rule, Seq("l_orderkey", "l_linenumber"))
        .select("l_orderkey", "l_linenumber", "path", "rule_id", "message", "observed")
        .orderBy("l_orderkey", "l_linenumber", "path")
    },

    Query("v19_array_battery",
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws FROM documents),
        |m AS (SELECT doc_id, ws, len(list_filter(ws, x -> regexp_matches(x, '^the$'))) AS n_the FROM w)
        |SELECT * FROM (
        | SELECT doc_id, '/' AS path, 'minItems' AS rule_id,
        |   'Not enough items: ' || len(ws)::VARCHAR || '/5.' AS message FROM w WHERE len(ws) < 5
        | UNION ALL SELECT doc_id, '/', 'maxItems',
        |   'Too many items: ' || len(ws)::VARCHAR || '/60.' FROM w WHERE len(ws) > 60
        | UNION ALL SELECT doc_id, '/', 'uniqueItems', 'Unique items required.'
        |  FROM w WHERE len(list_distinct(ws)) <> len(ws)
        | UNION ALL SELECT doc_id, '/', 'minContains',
        |   'Contains not enough items: ' || n_the::VARCHAR || '/1.' FROM m WHERE n_the < 1
        | UNION ALL SELECT doc_id, '/', 'maxContains',
        |   'Contains too many items: ' || n_the::VARCHAR || '/10.' FROM m WHERE n_the > 10
        | UNION ALL SELECT doc_id, '/' || i::VARCHAR, 'maxLength',
        |   'String is too long: ' || len(word)::VARCHAR || '/12.'
        |  FROM (SELECT doc_id, unnest(ws) AS word, unnest(range(0, len(ws))) AS i FROM w) u
        |  WHERE len(word) > 12
        |) t ORDER BY doc_id, path, rule_id, message""".stripMargin,
      floor = true) { t =>
      // array keywords over a REAL array column (the word list of each
      // document): min/maxItems, uniqueItems, contains with min/maxContains,
      // and per-element items (maxLength with /<index> paths) — §2.2's array
      // rows hash-compared against DuckDB list functions
      val docs = t("documents")
        .withColumn("arr", TextAnalysis.words(col("text")))
      val rule = All(Seq(
        MinItems(5), MaxItems(60), UniqueItems,
        Contains(Pattern("^the$"), Some(1), Some(10)),
        Items(MaxLength(12))))
      // observed dropped: min/maxItems render the whole array (engine text)
      Violations.validateColumn(docs, rule, "arr", Seq("doc_id"))
        .select("doc_id", "path", "rule_id", "message")
        .orderBy("doc_id", "path", "rule_id", "message")
    },

    Query("v18_format_battery2", {
      import graft.functions.Formats
      val dtRe = "^(\\d{4})-(\\d\\d)-(\\d\\d)[Tt ](\\d\\d):(\\d\\d):(\\d\\d)(\\.\\d+)?([Zz]|[+-]\\d\\d:\\d\\d)?$"
      val h = "[0-9A-Fa-f]{1,4}"
      s"""SELECT id, s,
         | regexp_matches(s, '${Formats.durationRe}') AS is_duration,
         | (len(s) BETWEEN 1 AND 253 AND regexp_matches(s, '${Formats.hostnameLabelsRe}')) AS is_hostname,
         | ((regexp_matches(s, '^($h:){7}$h$$')
         |   OR (regexp_matches(s, '^(($h:)*$h)?::(($h:)*$h)?$$') AND NOT regexp_matches(s, '::.*::')))
         |  AND NOT regexp_matches(s, ':::')) AS is_ipv6,
         | (regexp_matches(s, '^-?\\d+(\\.\\d+)?$$') AND regexp_matches(s, '^-?\\d+(\\.0*)?$$')
         |  AND len(regexp_replace(s, '\\.\\d+$$', '')) <= 30
         |  AND try_cast(regexp_replace(s, '\\.\\d+$$', '') AS DECIMAL(38,0))
         |      BETWEEN -2147483648 AND 2147483647) AS is_int32,
         | (regexp_matches(s, '^-?\\d+(\\.\\d+)?$$') AND regexp_matches(s, '^-?\\d+(\\.0*)?$$')
         |  AND len(regexp_replace(s, '\\.\\d+$$', '')) <= 30
         |  AND try_cast(regexp_replace(s, '\\.\\d+$$', '') AS DECIMAL(38,0))
         |      BETWEEN -9223372036854775808 AND 9223372036854775807) AS is_int64,
         | regexp_matches(s, '^\\d+(#$$|$$|/.*$$)') AS is_relptr,
         | (regexp_matches(s, '$dtRe')
         |  AND NOT regexp_matches(s, '[+-](2[4-9]|[3-9]\\d):\\d\\d$$')
         |  AND NOT regexp_matches(s, '[+-]\\d\\d:(6\\d|[7-9]\\d)$$')
         |  AND try_cast(regexp_extract(s, '$dtRe', 1) || '-' || regexp_extract(s, '$dtRe', 2)
         |        || '-' || regexp_extract(s, '$dtRe', 3) AS DATE) IS NOT NULL
         |  AND regexp_extract(s, '$dtRe', 4) < '24' AND regexp_extract(s, '$dtRe', 5) < '60'
         |  AND regexp_extract(s, '$dtRe', 6) <= '60') AS is_datetime
         |FROM (VALUES (1,'P1Y2M3DT4H5M6S'),(2,'P'),(3,'PT0.5S'),(4,'P3W'),
         | (5,'example.com'),(6,'-bad.example'),(7,repeat('a.', 130) || 'a'),
         | (8,'2001:db8::1'),(9,'1:2:3:4:5:6:7:8'),(10,':::'),(11,'1::2::3'),
         | (12,'2147483647'),(13,'2147483648'),
         | (14,'9223372036854775807'),(15,'9223372036854775808'),
         | (16,'0#'),(17,'1/foo'),(18,'#/x'),
         | (19,'2024-02-29T23:59:60Z'),(20,'2024-02-29T24:00:00Z'),
         | (21,'2024-06-01 12:30:00+05:30'),(22,'2024-06-01T12:30:00+24:00')) AS t(id, s)
         |ORDER BY id""".stripMargin
    }, floor = false) { t =>
      import t.spark.implicits._
      // second format battery: the calendar/structural formats v09 left out
      // (duration, hostname, ipv6, int32/int64 exact ranges,
      // relative-json-pointer, RFC3339 date-time incl. leap second and
      // offset bounds) — same regexes evaluated in both engines
      val fixtures = Seq(
        (1, "P1Y2M3DT4H5M6S"), (2, "P"), (3, "PT0.5S"), (4, "P3W"),
        (5, "example.com"), (6, "-bad.example"), (7, ("a." * 130) + "a"),
        (8, "2001:db8::1"), (9, "1:2:3:4:5:6:7:8"), (10, ":::"), (11, "1::2::3"),
        (12, "2147483647"), (13, "2147483648"),
        (14, "9223372036854775807"), (15, "9223372036854775808"),
        (16, "0#"), (17, "1/foo"), (18, "#/x"),
        (19, "2024-02-29T23:59:60Z"), (20, "2024-02-29T24:00:00Z"),
        (21, "2024-06-01 12:30:00+05:30"), (22, "2024-06-01T12:30:00+24:00"))
      import graft.functions.Formats
      fixtures.toDF("id", "s").select(col("id"), col("s"),
          Formats.duration(col("s")).as("is_duration"),
          Formats.hostname(col("s")).as("is_hostname"),
          Formats.ipv6(col("s")).as("is_ipv6"),
          Formats.int32(col("s")).as("is_int32"),
          Formats.int64(col("s")).as("is_int64"),
          Formats.relativeJsonPointer(col("s")).as("is_relptr"),
          Formats.dateTime(col("s")).as("is_datetime"))
        .orderBy("id")
    }
  )
}
