package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.tools.{Checkpoints, SessionCache}
import graft.tools.Checkpoints.SerCheckpoint
import org.apache.spark.sql.graft.ArgMax2

/** Change-data-capture semantics (SURVEY §2.9 T2, J2/J3) in batch
  * form: previous snapshot ⟗ current batch keyed by business key,
  * emitting new_listing / price_change / off_market events exactly as
  * main.py:14-37 + hunter.py:336-354 derive them. The streaming
  * flatMapGroupsWithState twin lives in graft.operators.Cdc and is
  * exercised by ScalaTest (no SQL oracle for stateful streams).
  *
  * Snapshots are simulated from lineitem: linenumber 1 = previous
  * state, linenumber 2 = current batch, keyed by orderkey with
  * extendedprice as the tracked value.
  */
object Cdc {

  val qCdcEvents = GraftQuery(
    "q_cdc_events",
    (s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
      val prev = li.filter($"l_linenumber" === 1)
        .select($"l_orderkey".as("key"), $"l_extendedprice".as("old_price"))
      val cur = li.filter($"l_linenumber" === 2)
        .select($"l_orderkey".as("key"), $"l_extendedprice".as("new_price"))
      cur.join(prev, Seq("key"), "full_outer")
        .select(
          $"key",
          when($"old_price".isNull, "new_listing")
            .when($"new_price".isNull, "off_market")
            .when($"new_price" =!= $"old_price", "price_change")
            .otherwise("unchanged").as("status"),
          round(($"new_price" - $"old_price") / $"old_price" * 100, 6)
            .as("price_change_pct"))
        .filter($"status" =!= "unchanged")
    },
    Some("""
      WITH prev AS (
        SELECT l_orderkey AS key, l_extendedprice AS old_price
        FROM lineitem WHERE l_linenumber = 1),
      cur AS (
        SELECT l_orderkey AS key, l_extendedprice AS new_price
        FROM lineitem WHERE l_linenumber = 2),
      ev AS (
        SELECT COALESCE(cur.key, prev.key) AS key,
          CASE WHEN old_price IS NULL THEN 'new_listing'
               WHEN new_price IS NULL THEN 'off_market'
               WHEN new_price <> old_price THEN 'price_change'
               ELSE 'unchanged' END AS status,
          round((new_price - old_price) / old_price * 100, 6) AS price_change_pct
        FROM cur FULL OUTER JOIN prev ON cur.key = prev.key)
      SELECT * FROM ev WHERE status <> 'unchanged'"""))

  /** J3 off-market anti join in its literal form (hunter.py:336-354):
    * state keys absent from the current batch, with time-on-market in
    * whole days from the tracked found-date (here: o_orderdate vs a
    * fixed "now"). */
  val qCdcOffMarket = GraftQuery(
    "q_cdc_off_market",
    (s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
      val state = Tables.orders(s, d)
      val batchKeys = li.filter($"l_linenumber" === 2).select($"l_orderkey")
      state.join(batchKeys, $"o_orderkey" === $"l_orderkey", "left_anti")
        .select(
          $"o_orderkey".as("key"),
          lit("off_market").as("status"),
          datediff(to_date(lit("2002-01-01")), to_date($"o_orderdate"))
            .as("time_on_market_days"))
    },
    Some("""
      SELECT o_orderkey AS key, 'off_market' AS status,
        CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS time_on_market_days
      FROM orders
      WHERE NOT EXISTS (SELECT 1 FROM lineitem
                        WHERE l_linenumber = 2 AND l_orderkey = o_orderkey)"""))

  /** K1 node-frame semantics (database_ops.py:14-58 fed by
    * main.py:24-35): only EVENTED rows reach the graph, and each node
    * carries its event — status, additionalText ('Price changed from
    * X to Y'), price_change_date (the fixed event clock, E10) and
    * price_change_percentage; new listings keep the ''/0 sentinels.
    * Snapshots simulated as in qCdcEvents; the tracked price is
    * l_partkey (bigint) so the event text is integer-exact on both
    * engines. Scale: one shuffle-or-broadcast join keyed by mls.
    */
  val qGraphNodeProps = GraftQuery(
    "q_graph_node_props",
    (s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
      val prev = li.filter($"l_linenumber" === 1)
        .select($"l_orderkey".as("mls"), $"l_partkey".as("old_price"))
      val cur = li.filter($"l_linenumber" === 2)
        .select($"l_orderkey".as("mls"), $"l_partkey".as("price"),
          $"l_suppkey".as("agent_key"))
      cur.join(prev, Seq("mls"), "left_outer")
        .withColumn("status",
          when($"old_price".isNull, "new_listing")
            .when($"price" =!= $"old_price", "price_change")
            .otherwise("unchanged"))
        .filter($"status" =!= "unchanged") // unchanged → no node write
        .select($"mls", $"agent_key", $"price", $"status",
          when($"status" === "price_change",
            concat(lit("Price changed from "), $"old_price".cast("string"),
              lit(" to "), $"price".cast("string"))).as("additional_text"),
          when($"status" === "price_change", lit("2023-11-14 22:13:20"))
            .as("price_change_date"),
          when($"status" === "price_change" && $"old_price" =!= 0,
            round(($"price" - $"old_price").cast("double") / $"old_price" * 100, 6))
            .otherwise(0.0).as("price_change_percentage"))
    },
    Some("""
      WITH prev AS (
        SELECT l_orderkey AS mls, l_partkey AS old_price
        FROM lineitem WHERE l_linenumber = 1),
      cur AS (
        SELECT l_orderkey AS mls, l_partkey AS price, l_suppkey AS agent_key
        FROM lineitem WHERE l_linenumber = 2),
      ev AS (
        SELECT cur.mls, cur.agent_key, cur.price, prev.old_price,
          CASE WHEN prev.mls IS NULL THEN 'new_listing'
               WHEN cur.price <> prev.old_price THEN 'price_change'
               ELSE 'unchanged' END AS status
        FROM cur LEFT JOIN prev ON cur.mls = prev.mls)
      SELECT mls, agent_key, price, status,
        CASE WHEN status = 'price_change'
             THEN 'Price changed from ' || CAST(old_price AS VARCHAR)
                  || ' to ' || CAST(price AS VARCHAR) END AS additional_text,
        CASE WHEN status = 'price_change'
             THEN '2023-11-14 22:13:20' END AS price_change_date,
        CASE WHEN status = 'price_change' AND old_price <> 0
             THEN round(CAST(price - old_price AS DOUBLE) / old_price * 100, 6)
             ELSE 0.0 END AS price_change_percentage
      FROM ev WHERE status <> 'unchanged'"""))

  /** SCD Type-2 dimension build (Kimball slowly-changing dimension):
    * the per-user event stream becomes a versioned dimension table —
    * one row per VALUE CHANGE carrying [valid_from, valid_to)
    * validity in epoch seconds, a per-user version number, and an
    * is_current flag on the open row. Consecutive events with an
    * unchanged value collapse into their predecessor's interval (true
    * SCD-2 versions on change, not on event), detected with lag();
    * ordering ties on the same second break deterministically by
    * event_id on both engines.
    *
    * Scale shape: every window is keyed on user_id — a key space that
    * grows with the data, so parallelism follows the corpus and no
    * straggler wall forms (the house window discipline; see
    * w_running_user_value). One shuffle on user_id feeds all three
    * window passes (lag, lead, row_number share the same
    * partitioning+ordering, so Catalyst plans a single sort). */
  /** SCD-2 core over any (user_id, event_id, sec, value) frame —
    * factored out so CdcSpec can drive the collapse path with
    * synthetic repeated values (the fixture's random doubles almost
    * never repeat, so every event would version). */
  private[graft] def scd2(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val chg = ev.withColumn("prev", lag(col("value"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("value"))
    chg.select(col("user_id"), col("event_id"), col("sec"), col("value"),
        lead(col("sec"), 1).over(w).as("valid_to_sec"),
        row_number().over(w).cast("long").as("version"))
      .select(col("user_id"), col("value"), col("sec").as("valid_from_sec"),
        col("valid_to_sec"), col("version"),
        col("valid_to_sec").isNull.as("is_current"))
  }

  val qCdcScd2 = GraftQuery(
    "q_cdc_scd2",
    (s, d) => {
      import s.implicits._
      scd2(Tables.events(s, d)
        .select($"user_id", $"event_id", unix_timestamp($"ts").as("sec"),
          $"value"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS sec, value
        FROM events),
      chg AS (
        SELECT *, lag(value) OVER (PARTITION BY user_id
                                   ORDER BY sec, event_id) AS prev
        FROM ev),
      v AS (
        SELECT user_id, event_id, sec, value FROM chg
        WHERE prev IS NULL OR prev <> value)
      SELECT user_id, value, sec AS valid_from_sec,
        lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
          AS valid_to_sec,
        CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY sec, event_id) AS BIGINT)
          AS version,
        (lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
          IS NULL) AS is_current
      FROM v"""))

  /** Point-in-time-correct feature join (the feature-store lookup
    * that prevents label leakage in training data, Feast/Tecton
    * style): every purchase event is joined to the SCD-2 dimension
    * version that was valid AT ITS TIME — the latest version with
    * valid_from ≤ purchase sec, never a later one. The dimension here
    * is [[scd2]] over the user's `view` events, so the output is
    * "what the user's tracked value looked like when they bought",
    * with the version id for audit; purchases before any version
    * carry nulls.
    *
    * Implemented as the carry-forward union, not an interval join:
    * dimension change rows and probe rows union into one frame, one
    * window keyed on user_id carries the latest (value, version)
    * forward, probes read the carried state. Ties at the same second
    * are pinned: changes sort before probes (ord 0 < 1), and among
    * same-second changes the higher version wins — the oracle replays
    * the same policy as ORDER BY valid_from DESC, version DESC.
    *
    * Scale shape: ONE exchange + sort keyed on user_id covers the
    * whole lookup (the same discipline as w_asof_prior_view); no
    * probe-count window, no interval-join blowup, dimension and
    * probes never materialize a pair space. */
  /** PIT core over any (user_id, event_id, sec, value, event_type)
    * frame — factored out so CdcSpec can drive the leakage and tie
    * policies synthetically. */
  private[graft] def pitJoin(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dim = scd2(ev.filter(col("event_type") === "view")
        .drop("event_type"))
      .select(col("user_id"), col("valid_from_sec").as("sec"),
        lit(0).as("ord"), lit(null).cast("long").as("event_id"),
        col("value"), col("version"))
    val probes = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("sec"), lit(1).as("ord"), col("event_id"),
        lit(null).cast("double").as("value"),
        lit(null).cast("long").as("version"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("sec"), col("ord"),
        coalesce(col("version"), lit(Long.MaxValue)))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    dim.unionByName(probes)
      .withColumn("feature_value",
        last(col("value"), ignoreNulls = true).over(w))
      .withColumn("feature_version",
        last(when(col("ord") === 0, col("version")), ignoreNulls = true)
          .over(w))
      .filter(col("ord") === 1)
      .select(col("event_id"), col("user_id"), col("sec").as("purchase_sec"),
        col("feature_value"), col("feature_version"))
  }

  val qCdcPitJoin = GraftQuery(
    "q_cdc_pit_join",
    (s, d) => {
      import s.implicits._
      pitJoin(Tables.events(s, d)
        .select($"user_id", $"event_id", unix_timestamp($"ts").as("sec"),
          $"value", $"event_type"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS sec, value, event_type
        FROM events),
      vchg AS (
        SELECT *, lag(value) OVER (PARTITION BY user_id
                                   ORDER BY sec, event_id) AS prev
        FROM (SELECT user_id, event_id, sec, value FROM e
              WHERE event_type = 'view')),
      dim AS (
        SELECT user_id, value, sec AS vf,
          CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY sec, event_id) AS BIGINT)
            AS version
        FROM vchg WHERE prev IS NULL OR prev <> value),
      p AS (
        SELECT event_id, user_id, sec FROM e
        WHERE event_type = 'purchase'),
      j AS (
        SELECT p.event_id, p.user_id, p.sec, d.value, d.version,
          ROW_NUMBER() OVER (PARTITION BY p.event_id
                             ORDER BY d.vf DESC, d.version DESC) AS rn
        FROM p LEFT JOIN dim d
          ON d.user_id = p.user_id AND d.vf <= p.sec)
      SELECT event_id, user_id, sec AS purchase_sec,
        value AS feature_value, version AS feature_version
      FROM j WHERE rn = 1"""))

  /** Incremental MV refresh ([[graft.operators.IncrementalAgg]]): the
    * orders fact table is sliced at a date boundary into "already
    * materialized history" and "newly arrived partition"; each side
    * contributes a partial-aggregate artifact and the refresh merges
    * the two WITHOUT rescanning history. The oracle is the full
    * recompute over the whole table, so the hash gate proves the
    * merge algebra is exactly lossless (the point of carrying decimal
    * sums: a double-valued partial would diverge from the recompute
    * in the last bits and the MV would drift batch over batch). */
  val qMvMerge = GraftQuery(
    "q_mv_merge",
    (s, d) => {
      import graft.operators.IncrementalAgg
      import s.implicits._
      val keys = Seq("status", "priority")
      val o = Tables.orders(s, d).select(
        $"o_orderstatus".as("status"), $"o_orderpriority".as("priority"),
        $"o_totalprice".as("price"), $"o_orderdate".as("ts"))
      val split = lit("1999-01-01").cast("timestamp")
      val base = IncrementalAgg.partial(
        o.filter($"ts" < split), keys, $"price", $"ts")
      val delta = IncrementalAgg.partial(
        o.filter($"ts" >= split), keys, $"price", $"ts")
      IncrementalAgg.present(
        IncrementalAgg.merge(base.unionByName(delta), keys), keys)
    },
    Some("""
      SELECT o_orderstatus AS status, o_orderpriority AS priority,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_price,
        MIN(o_orderdate) AS first_date,
        MAX(o_orderdate) AS last_date
      FROM orders GROUP BY 1, 2"""))

  /** PageRank over the customer–supplier graph — iterative graph
    * analytics on the property-graph family (the reference's graph is
    * a MERGE-maintained node/edge store, database_ops.py:11-92; once
    * a pipeline HAS a graph, centrality is the first analytic run on
    * it). Nodes are namespaced customers/suppliers ('c…'/'s…'), edges
    * are the distinct cust–supp trade relations from orders ⋈
    * lineitem, walked undirected (both directions materialized);
    * 3 synchronous rounds of pr ← 0.15 + 0.85·Σ pr(u)/deg(u).
    *
    * Determinism contract: PR mass lives in 1e-6 fixed point
    * (BIGINT). Per-edge contribution is pr div deg (integer floor,
    * identical to DuckDB `//` on non-negatives), inbox sums are exact
    * integer sums, and the damping step is (850000·inbox) div 10⁶ —
    * no float touches the iteration, so round count (not
    * convergence-to-epsilon) defines the result identically on both
    * engines. Headroom: 850000·inbox needs inbox < ~10¹³ micro-PR —
    * total mass is nodes·10⁶, so fine through ~10⁷ nodes; beyond
    * that, rescale to 1e-3 fixed point or promote the product to
    * DECIMAL(38,0) (same two-long trick as I128Sum).
    *
    * Scale shape: Pregel-lite — k rounds = k (join + aggregate)
    * passes over the EDGE table, each keyed on node ids (a key space
    * that grows with the graph); the edge list and degree table are
    * built once and checkpointed; no driver-side state beyond the
    * fixed round count, nothing collected. Hot nodes (celebrity
    * suppliers) skew the inbox aggregate exactly like any hot
    * groupBy key — AQE skew handling applies, and the map-side
    * partial sums absorb most of it. */
  /** Directed distinct cust–supp trade edges from the orders slice
    * selected by `pred` (lit(true) = the whole table). The slice
    * filter lands on the ORDERS scan (PushedFilters — asserted in
    * PagerankSpec), so deriving a delta slice reads delta-sized
    * order data, not history. */
  private[graft] def tradeEdges(s: org.apache.spark.sql.SparkSession,
      d: String, pred: Column): DataFrame =
    tradeEdgesRaw(s, d, pred).distinct()

  /** The un-deduplicated (a, b) pair stream — for loop builders that
    * fold the dedup into their own layout exchange (hash(a) clusters
    * (a, b), so a dropDuplicates AFTER the a-keyed repartition needs
    * no exchange of its own; the standalone `.distinct()` here paid a
    * separate (a, b)-keyed shuffle immediately followed by the loop's
    * a-keyed one — guide §2.4, two ops keyed compatibly share one
    * exchange).
    *
    * Node ids are LONG-encoded (custkey·2 / suppkey·2+1 — the LPA
    * convention, injective so distinct/degree/grouping are isomorphic
    * to the string form) and decoded to the oracle's 'c…'/'s…' names
    * only in each loop's final projection ([[decodeNode]]): every
    * in-loop shuffle, sort and hash then moves 8-byte longs instead
    * of variable-width UTF8 strings (guide §2.3 — narrower types,
    * halve the column, halve its shuffle bytes). */
  private[graft] def tradeEdgesRaw(s: org.apache.spark.sql.SparkSession,
      d: String, pred: Column): DataFrame = {
    import s.implicits._
    Tables.orders(s, d).filter(pred).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      // cast BEFORE the multiply (ADVICE r15): an INT-typed parquet
      // custkey above 2^30 would wrap in the column's native type
      .select(($"o_custkey".cast("long") * 2).as("a"),
        ($"l_suppkey".cast("long") * 2 + 1).as("b"))
  }

  /** Long node id → the oracle's string name ('c'||custkey /
    * 's'||suppkey) — the lpaOver decode, shared by every loop that
    * iterates on long-encoded ids. `n` must be a column named after
    * an attribute in scope (the `expr` forms reference it by name). */
  private[graft] def decodeNode(name: String): Column =
    when(col(name) % 2 === 0, concat(lit("c"), expr(s"$name div 2")))
      .otherwise(concat(lit("s"), expr(s"($name - 1) div 2")))

  /** The 3-round fixed-point iteration over a directed-distinct edge
    * list (doubled to undirected here). Shared verbatim by the batch
    * and incremental queries so "refresh" can never mean "a slightly
    * different pagerank". */
  private[graft] def pagerankOver(s: org.apache.spark.sql.SparkSession,
      e0: DataFrame, parts: Int): DataFrame = {
    import s.implicits._
    // EXPLICIT count: the edge table is probed by an a-keyed JOIN
    // every round, and plain
    // HashPartitioning(a, n) is the only declarable layout a join can
    // align to — the AQE-coalescible repartition materializes
    // CoalescedHashPartitioning, which no later hash layout can match,
    // so EnsureRequirements re-shuffled AND re-sorted the E-scale edge
    // checkpoint into every round's SMJ (plans/r16/
    // q_graph_pagerank_before.txt: Exchange+Sort over every
    // UnknownPartitioning edges scan). Input-scaled, never a local
    // constant (Tables.scaledPartitions).
    // partitioned AND sorted on the probe key pre-checkpoint
    // (localCheckpoint's LogicalRDD keeps outputPartitioning and
    // outputOrdering): the degree aggregate reads the edge list
    // exchange-free, and every round's contribution SMJ needs
    // neither exchange nor sort on the corpus-scale side — only the
    // V-scale rank table pays a per-round shuffle+sort, and a sort
    // spills gracefully where a forced hash build would abort (a
    // shuffle_hash hint dies with "can't acquire memory to build
    // hash relation" once an AQE-coalesced build partition outgrows
    // a task's execution-memory share — measured at sf10)
    // deserCheckpoint, not serCheckpoint: this loop retains ONE edge
    // table + one degree table for its whole life (no per-round
    // re-checkpoint like the k-core/LPA peels), reads each 3–4 times,
    // and never spilled at sf10 under either storage level — so the
    // serialized insurance only charged ser/deser to every round
    // (+27% at sf10, BASELINE.md r11 trade note)
    val edges0 = Checkpoints.defer(
      e0.union(e0.select($"b".as("a"), $"a".as("b")))
        // dedup rides the layout exchange (hash(a) clusters (a, b));
        // accepts raw OR already-distinct input — dropDuplicates is
        // idempotent, and the even/odd id encoding keeps the doubled
        // halves disjoint, so dedup-after-doubling == doubling-after-dedup
        .repartition(parts, $"a").dropDuplicates().sortWithinPartitions($"a")
        .deserCheckpoint())
    val deg = Checkpoints.defer(
      edges0.groupBy($"a").agg(count(lit(1)).as("deg"))
        .sortWithinPartitions($"a")
        .deserCheckpoint())
    // deg FOLDED ONTO the edge table once (an exchange-free a-keyed
    // SMJ against the co-partitioned deg): each round then computes
    // the per-edge contribution `pr div deg` directly — bit-identical
    // to the per-node quotient, since pr and deg are per-node
    // constants — instead of paying a V-scale pr ⋈ deg join + sort
    // per round (guide §2.4: two operations keyed the same way share
    // one exchange; here the join moves out of the loop entirely).
    val edges = Checkpoints.defer(
      edges0.join(deg.select($"a", $"deg"), Seq("a"))
        .select($"a", $"b", $"deg")
        .deserCheckpoint()) // a-keyed join output: layout (a, n) + a-sorted kept
    Checkpoints.release(edges0)
    var pr = deg.select($"a".as("node"), lit(1000000L).as("pr"))
    for (_ <- 1 to 3) {
      pr = edges.join(pr, edges("a") === pr("node"))
        .select($"b", expr("pr div deg").as("c"))
        .groupBy($"b").agg(sum($"c").as("inbox"))
        .select($"b".as("node"),
          (lit(150000L) + expr("(850000 * inbox) div 1000000"))
            .as("pr"))
    }
    pr.select(decodeNode("node").as("node"), $"pr".as("pr_micro"))
  }

  private val pagerankOracle: String = {
    // AS MATERIALIZED on e/deg and each iteration table: without it
    // DuckDB re-inlines the 60M-row orders⨝lineitem edge derivation
    // into every p_i (3× recompute), and at sf10 the overlapping
    // spills exhausted /tmp (>74 GB) — the same lesson the LPA and
    // k-means oracles learned in a062fee/8c56470. Each p_i is only
    // V-scale (1.6M rows), so materializing the chain scopes the
    // spill to one iteration at a time.
    def round(prev: String, out: String) =
      s"""$out AS MATERIALIZED (
        SELECT e.b AS node,
          CAST(150000 + (850000 * SUM(p.pr // d.deg)) // 1000000
            AS BIGINT) AS pr
        FROM e JOIN $prev p ON p.node = e.a JOIN deg d ON d.a = e.a
        GROUP BY e.b)"""
    s"""
    WITH e0 AS (
      SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS MATERIALIZED (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS MATERIALIZED (SELECT a, COUNT(*) AS deg FROM e GROUP BY 1),
    p0 AS (SELECT a AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
    ${round("p0", "p1")},
    ${round("p1", "p2")},
    ${round("p2", "p3")}
    SELECT node, pr AS pr_micro FROM p3"""
  }

  /** Shared conf advisory for the Pregel-lite loops whose per-round
    * gather shuffles an edge-scale stream (pagerank's contribution
    * inbox, LPA's neighbor votes): at the default 64 MB advisory AQE
    * coalesces those shuffles into partitions whose decompressed
    * sort/aggregate state sits on the execution-memory cliff —
    * measured at sf10: pagerank 24.7 GB memory + 0.6 GB disk spill,
    * communities 21.8 + 1.5 GB (ShuffleAudit, round 13), with the
    * spill-or-fit flip driving 30–40% run-to-run swings. 16 MB keeps
    * every post-coalesce round partition inside a task's share:
    * spill-free, stable. The k-core peels need no advisory — their
    * rounds are frontier-sized, audited spill-free at sf10. */
  private val LoopAdvisory = Map(
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m")

  val qGraphPagerank = GraftQuery(
    "q_graph_pagerank",
    (s, d) => pagerankOver(s, tradeEdgesRaw(s, d, lit(true)),
      parts = Tables.scaledPartitions(s, d, Seq("orders", "lineitem"))),
    Some(pagerankOracle),
    bench = true,
    confs = LoopAdvisory)

  /** Incremental-maintenance counter for PagerankSpec: how many times
    * the base edge artifact has actually been DERIVED (vs served from
    * the session cache). */
  private[graft] val baseEdgeDerivations =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Session-scoped base-edge artifact: the pre-split edge history
    * is derived once per (session, dataset, split) and every refresh
    * probes the checkpointed table instead of re-walking history. */
  private val baseEdgeCache = SessionCache[(String, String), DataFrame]()
  private[graft] def cachedBaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String, split: String): DataFrame =
    baseEdgeCache(s, (d, split)) {
      baseEdgeDerivations.incrementAndGet()
      tradeEdges(s, d, col("o_orderdate") < lit(split).cast("date"))
        .localCheckpoint(true)
    }

  /** Incremental PageRank — the graph analytic composed with the
    * dd_incremental / IncrementalAgg philosophy, and the engine-side
    * mirror of the reference's MERGE-maintained graph store
    * (database_ops.py:11-92 upserts nodes/edges per scrape cycle; it
    * never rebuilds the graph from history): edges from the order
    * HISTORY live in a checkpointed base artifact derived ONCE per
    * session ([[cachedBaseEdges]]); a refresh derives edges from the
    * DELTA slice only (filter pushed to the orders scan), MERGEs them
    * into the artifact with the same distinct-union no-op semantics
    * as the reference's MERGE (an edge seen in both eras is one
    * edge), and re-runs the shared [[pagerankOver]] rounds on the
    * merged list.
    *
    * What is and is not incremental, stated honestly: edge
    * DERIVATION is delta-sized (the expensive orders ⋈ lineitem walk
    * never re-reads history); the rank ITERATION is graph-sized by
    * design — PR is a global fixed point, so each refresh pays k
    * round-joins over the merged edge list, exactly what
    * q_graph_pagerank pays. Cost per refresh is |delta| derivation +
    * |graph| iteration, never |history| re-derivation.
    *
    * The oracle is the FULL-RECOMPUTE formulation (identical SQL to
    * q_graph_pagerank), so the hash gate proves the merge path drifts
    * from re-derivation by nothing; PagerankSpec adds slice
    * invariance (any split date → identical ranks) and the
    * derive-once cache contract. */
  val qGraphPagerankInc = GraftQuery(
    "q_graph_pagerank_inc",
    (s, d) => {
      import s.implicits._
      val split = "1996-01-01"
      val base = cachedBaseEdges(s, d, split)
      val delta = tradeEdges(s, d,
        $"o_orderdate" >= lit(split).cast("date"))
      pagerankOver(s, base.unionByName(delta).distinct(),
        parts = Tables.scaledPartitions(s, d, Seq("orders", "lineitem")))
    },
    Some(pagerankOracle),
    confs = LoopAdvisory)

  /** Triangle counting over a bounded-degree supplier co-occurrence
    * graph — the clustering-structure analytic (community cores,
    * collusion/ring detection) complementing PageRank's centrality
    * and connectedComponents' reachability. The trade graph itself is
    * bipartite (triangle-free by construction), so the graph here is
    * the classic one-mode projection: suppliers weighted by how many
    * ORDERS they co-supplied, then each supplier keeps only its 5
    * strongest partners (weight desc, id asc — the same bounded
    * top-k recipe as sim_knn_graph, via the native TopKAggregate, no
    * supplier-count window).
    *
    * The top-k step is the scale design, not a convenience: a raw
    * co-occurrence graph densifies toward complete as data grows (at
    * sf0.01 every supplier pair already shares ≥ 8 orders), and any
    * fixed weight threshold flips between complete and empty across
    * scale factors. Degree-capping makes the graph size n·k and the
    * wedge join ≤ n·k² AT ANY SCALE — the same reason ANN capped its
    * buckets. Co-occurrence pair derivation fans out per order
    * quadratically in that order's supplier count — bounded by lines
    * per order (single digits), so the one corpus-sized shuffle keys
    * on orderkey.
    *
    * Counting: canonical (x < y) undirected edges, wedges from the
    * x-keyed self-join (y < y'), closed by one more hash join probing
    * (y, y') — per-node participation via one explode + aggregate.
    * All exact integers; oracle replays the projection, the window-
    * formulated top-k, and the same triple join. */
  /** The capped co-occurrence graph [[qGraphTriangles]] counts on:
    * canonical (x < y) undirected supplier edges, each endpoint
    * having nominated at most its k strongest partners. Shared with
    * TrianglesSpec so the brute-force reference counts the SAME
    * graph. */
  private[graft] def supplierTopKEdges(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): DataFrame = {
    import s.implicits._
    val n = Tables.scaledPartitions(s, d, Seq("lineitem"))
    // ONE distinct (order, supplier) table, checkpointed in the
    // self-join's key layout (round 16): the plain `os.join(os…)`
    // re-derived the scan + distinct on BOTH sides and then re-shuffled
    // both onto orderkey — one orderkey-keyed checkpoint (dedup rides
    // the layout exchange, pagerankOver discipline) makes the
    // co-occurrence self-join scan-once and exchange-free.
    val os = Checkpoints.defer(
      Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey")
        .repartition(n, $"l_orderkey").dropDuplicates()
        .sortWithinPartitions($"l_orderkey")
        .serCheckpoint())
    val pairs = os
      .join(os.select($"l_orderkey".as("k2"), $"l_suppkey".as("s2")),
        $"l_orderkey" === $"k2" && $"l_suppkey" =!= $"s2")
      .groupBy($"l_suppkey", $"s2")
      .agg(count(lit(1)).as("w"))
      .select($"l_suppkey".as("sa"), $"s2".as("sb"), $"w")
    pairs
      .groupBy($"sa")
      .agg(org.apache.spark.sql.graft.TopKAggregate
        .of($"sb", $"w".cast("double"), k).as("tk"))
      .select($"sa", explode($"tk").as("e"))
      .select($"sa", $"e.id".as("sb"))
      .select(least($"sa", $"sb").as("x"), greatest($"sa", $"sb").as("y"))
      .distinct()
  }

  val qGraphTriangles = GraftQuery(
    "q_graph_triangles",
    (s, d) => {
      import s.implicits._
      // checkpointed in the WEDGE join's key layout (round 16): the
      // (x, y)-keyed distinct layout satisfied no consumer, so the
      // x-keyed self-join re-shuffled + re-sorted BOTH probe sides of
      // the capped edge list (plans/r16/q_graph_triangles_before.txt);
      // one bounded n·k-scale re-key makes the wedge join exchange-
      // and sort-free on both sides.
      val n = Tables.scaledPartitions(s, d, Seq("lineitem"))
      val edges = Checkpoints.defer(
        supplierTopKEdges(s, d, 5)
          .repartition(n, $"x").sortWithinPartitions($"x", $"y")
          .serCheckpoint()) // three probe sides of one per-run artifact
      val wedges = edges
        .join(edges.select($"x".as("x2"), $"y".as("y2")),
          $"x" === $"x2" && $"y" < $"y2")
      val tris = wedges
        .join(edges.select($"x".as("cx"), $"y".as("cy")),
          $"y" === $"cx" && $"y2" === $"cy")
        .select($"x".as("a"), $"y".as("b"), $"y2".as("c"))
      tris
        .select(explode(array($"a", $"b", $"c")).as("s_suppkey"))
        .groupBy($"s_suppkey")
        .agg(count(lit(1)).as("n_triangles"))
    },
    Some("""
      WITH os AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      pairs AS MATERIALIZED (
        SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, COUNT(*) AS w
        FROM os a JOIN os b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
        GROUP BY 1, 2),
      topk AS (
        SELECT sa, sb FROM (
          SELECT sa, sb,
            ROW_NUMBER() OVER (PARTITION BY sa
              ORDER BY w DESC, sb ASC) AS rk
          FROM pairs) WHERE rk <= 5),
      e AS MATERIALIZED (
        SELECT DISTINCT LEAST(sa, sb) AS x, GREATEST(sa, sb) AS y
        FROM topk),
      tri AS (
        SELECT e1.x AS a, e1.y AS b, e2.y AS c
        FROM e e1
        JOIN e e2 ON e1.x = e2.x AND e1.y < e2.y
        JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y),
      corners AS (
        SELECT a AS s_suppkey FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
      SELECT s_suppkey, COUNT(*) AS n_triangles
      FROM corners GROUP BY s_suppkey"""),
    bench = true,
    // The co-occurrence pair aggregate shuffles ~4 GB at sf10 with a
    // near-unique (sa, sb) key space; at the default 64 MB advisory
    // AQE coalesces it to ~66 partitions whose decompressed hash
    // tables sit exactly on the execution-memory cliff — measured at
    // sf10: 3 GB memory spill + disk spill, and 37–106s run-to-run
    // swings as borderline partitions flip between fitting and
    // spilling (the compressed sizes AQE plans on are data-ORDER
    // dependent, so a corpus rewrite moved the cliff). A 16 MB
    // advisory keeps every post-coalesce aggregate partition safely
    // inside a task's memory share: spill-free and stable. Advisory,
    // per-query around materialization, restored after (the
    // dd_simhash_neardup mechanism).
    confs = Map(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m"))

  /** Community detection via deterministic weighted label propagation
    * — the clustering member of the graph family ([[qGraphPagerank]]
    * ranks, [[qGraphTriangles]] measures cohesion, this PARTITIONS):
    * 3 synchronous rounds over the weighted undirected trade graph
    * (edge weight = co-trade count, NOT the distinct edge list — a
    * customer ordering from a supplier 50 times should bind tighter
    * than one-off trades). Each node adopts the label with the
    * largest gathered weight, ties to the LOWEST label; every node
    * also votes for its own current label with its STRONGEST single
    * incident edge weight (inertia) — without a self-vote,
    * synchronous LPA on a BIPARTITE graph (and customer–supplier is
    * bipartite) oscillates two-colorings instead of converging, and
    * a TOTAL-incident-weight self-vote overshoots: neighbor votes
    * sum to exactly that total, so no single label could ever win
    * and every node would keep its own label forever. The max-edge
    * vote lets a label through exactly when shared neighbor mass
    * beats the strongest single tie.
    *
    * Determinism: node ids encode to longs (custkey·2 / suppkey·2+1)
    * so the argmax rides one max(struct(wt, −lab)) hash-aggregate —
    * weight desc, label asc — with no string ordering and no window;
    * weights are exact integer counts throughout. The fixed round
    * count defines the result identically cross-engine (the
    * q_graph_pagerank discipline).
    *
    * Scale shape: Pregel-lite like pagerank — k rounds of one
    * edge-keyed join + two hash-aggregates over a checkpointed edge
    * list; the self-vote table is node-sized; community sizes are one
    * more label-keyed aggregate. Nothing collected, no windows. */
  /** Weighted (a, b, w) trade-edge counts over the orders slice
    * selected by `pred` — the communities analog of [[tradeEdges]]
    * (which is DISTINCT, pagerank's shape; LPA needs the co-trade
    * counts). Count aggregates are decomposable, so per-era counts
    * merged by summation equal the full-history counts — the
    * IncrementalAgg identity [[qGraphCommunitiesInc]] leans on. */
  private[graft] def weightedTradeEdges(s: org.apache.spark.sql.SparkSession,
      d: String, pred: Column): DataFrame = {
    import s.implicits._
    Tables.orders(s, d).filter(pred).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      // cast BEFORE the multiply (ADVICE r15) — same wrap risk as
      // tradeEdgesRaw, and the long ids are what the loop shuffles
      .select(($"o_custkey".cast("long") * 2).as("a"),
        ($"l_suppkey".cast("long") * 2 + 1).as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("w"))
  }

  /** The 3-round weighted LPA over a directed-distinct weighted edge
    * list (doubled to undirected here) — shared verbatim by the batch
    * and incremental queries, the [[pagerankOver]] discipline. */
  private[graft] def lpaOver(s: org.apache.spark.sql.SparkSession,
      e0: DataFrame, parts: Int): DataFrame = {
    import s.implicits._
    // EXPLICIT count, the pagerankOver rationale: a plain
    // HashPartitioning(b, n) is the only declarable layout the
    // per-round gather JOIN can align to — the coalescible
    // repartition's CoalescedHashPartitioning forced EnsureRequirements
    // to re-shuffle AND re-sort the E-scale edge checkpoint into every
    // round's SMJ. Input-scaled (Tables.scaledPartitions), never a
    // local constant.
    // partitioned AND sorted ON THE PROBE KEY before the checkpoint:
    // LogicalRDD preserves outputPartitioning and outputOrdering, so
    // every round's neighbor-gather SMJ reads the corpus-scale edge
    // table with no exchange and no sort — the big side crosses the
    // wire once and is sorted once for the whole query, not once per
    // round; only the V-scale label table pays per-round, and its
    // sort spills gracefully (a forced shuffle_hash build aborts
    // outright when a coalesced partition outgrows task memory —
    // measured at sf10 on this very join)
    val edges = Checkpoints.defer(e0
      .union(e0.select($"b".as("a"), $"a".as("b"), $"w"))
      .repartition(parts, $"b").sortWithinPartitions($"b")
      .serCheckpoint())
    // selfW is JOINED per round (fromSelf), so it needs the same
    // declarable plain layout: the a-keyed aggregate's own exchange
    // keeps map-side partial agg (E→V before the wire), then ONE
    // V-scale explicit re-key pins HashPartitioning(a, n) — paid once
    // at build, saving the per-round re-shuffle of both join sides.
    val selfW = Checkpoints.defer(
      edges.groupBy($"a").agg(max($"w").as("sw"), count(lit(1)).as("dg"))
        .repartition(parts, $"a").sortWithinPartitions($"a")
        .serCheckpoint())
    // Degree-cap gate (round 16, VERDICT r15 #2): the single raw
    // node-keyed gather concentrates a hot node's ENTIRE vote stream
    // on one reduce partition — AQE cannot split a
    // repartition+aggregate stage — while the skew-proof form
    // ((node, lab)-keyed raw exchange, then the argmax's own
    // partial-aggregated exchange) pays ~30% more on uniform graphs
    // (OPTIMIZATION_r16.md, 20M votes: uniform 3.4s vs 4.8s; 30%-hot-node
    // 8.0s vs 3.8s). Pick per graph from the degree stats the selfW
    // aggregate already computes: skew-proof iff the hottest node's
    // vote stream exceeds 4× a balanced partition's share. One
    // bounded driver action on a checkpointed V-scale table; both
    // forms are exact aggregations, so results are identical either
    // way (PagerankSpec's degree-cap gate case checks the parity).
    val degStats = selfW.agg(sum($"dg"), max($"dg")).first()
    val hotGather = !degStats.isNullAt(1) &&
      degStats.getLong(1) > 4L * math.max(1L, degStats.getLong(0) / parts)
    // 3 materialized rounds (the next reads its labels twice: neighbor
    // gather + self-vote); the last feeds the output, so it is deferred
    val lab0 = selfW.select($"a".as("node"), $"a".as("lab"))
    val (lab, _) = Checkpoints.iterate(lab0, 3) { (lab, _) =>
      val fromNeighbors = edges
        .join(lab.select($"node".as("bn"), $"lab"), $"b" === $"bn")
        .select($"a".as("node"), $"lab", $"w")
      val fromSelf = lab.join(selfW, $"node" === selfW("a"))
        .select($"node", $"lab", $"sw".as("w"))
      val votes = fromNeighbors.union(fromSelf)
      Some(
        if (hotGather)
          // skew-proof gather: the raw exchange keys on (node, lab) —
          // a hot node's votes spread across its labels' hash range —
          // and the argmax's OWN exchange carries map-side partial
          // argmax (≤ 1 row per node per partition), so no reduce
          // partition ever holds more than its hash share; one final
          // V-scale re-key restores the loop layout.
          votes
            .repartition(parts, $"node", $"lab")
            .groupBy($"node", $"lab").agg(sum($"w").as("wt"))
            .groupBy($"node")
            .agg(ArgMax2.of($"wt", -$"lab").as("m"))
            .select($"node", (-$"m.tie").as("lab"))
            .repartition(parts, $"node")
        else votes
          // ONE node-keyed shuffle serves BOTH aggregate levels
          // (hashpartitioning(node) clusters (node, lab) too), where the
          // plain two-level groupBy paid two exchanges per round: the
          // (node, lab) vote-sum shuffle AND a re-shuffle of the summed
          // pairs onto node for the argmax (guide §2.4). The vote rows
          // shuffled raw are (long, long, long) — barely wider than the
          // partially-aggregated pairs they replace (gather output is
          // keyed by the NEIGHBOR side, so map-side partial agg on
          // (node, lab) collapsed little). EXPLICIT n: the aggregate
          // output then declares plain HashPartitioning(node, n), so the
          // NEXT round's two joins (edges gather + self-vote) read this
          // round's checkpoint with no exchange on either side.
          .repartition(parts, $"node")
          .groupBy($"node", $"lab").agg(sum($"w").as("wt"))
          .groupBy($"node")
          .agg(ArgMax2.of($"wt", -$"lab").as("m"))
          .select($"node", (-$"m.tie").as("lab")))
    }
    Checkpoints.defer(lab)
    val sizes = lab.groupBy($"lab").agg(count(lit(1)).as("community_size"))
    lab.join(sizes, "lab")
      .select(decodeNode("node").as("node"),
        $"lab".as("community"), $"community_size")
  }

  private val communitiesOracle: String = {
      def round(prev: String, g: String, l: String) = s"""
      $g AS (
        SELECT node, lab, SUM(w) AS wt FROM (
          SELECT e.a AS node, l.lab AS lab, e.w AS w
          FROM e JOIN $prev l ON l.node = e.b
          UNION ALL
          SELECT l.node, l.lab, sw.sw AS w
          FROM $prev l JOIN sw ON sw.a = l.node)
        GROUP BY 1, 2),
      $l AS MATERIALIZED (
        SELECT node, lab FROM (
          SELECT node, lab, ROW_NUMBER() OVER (PARTITION BY node
            ORDER BY wt DESC, lab ASC) AS rn
          FROM $g)
        WHERE rn = 1)"""
      s"""
      WITH e0 AS (
        SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b, COUNT(*) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2),
      e AS MATERIALIZED (SELECT a, b, w FROM e0 UNION ALL SELECT b, a, w FROM e0),
      sw AS MATERIALIZED (SELECT a, CAST(MAX(w) AS BIGINT) AS sw FROM e GROUP BY 1),
      l0 AS MATERIALIZED (SELECT a AS node, a AS lab FROM sw),
      ${round("l0", "g1", "l1")},
      ${round("l1", "g2", "l2")},
      ${round("l2", "g3", "l3")},
      cs AS (SELECT lab, COUNT(*) AS community_size FROM l3 GROUP BY 1)
      SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
                  ELSE 's' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
        lab AS community, community_size
      FROM l3 JOIN cs USING (lab)"""
  }

  /** LPA needs a tighter advisory than pagerank: its per-round gather
    * aggregates an E-scale (node, label, weight) stream whose PARTIAL
    * (map-side) hash tables follow the join-output partition size, not
    * just the post-shuffle size — at 16 MB it still spilled 19 GB at
    * sf10 (vs 21.8 pre-advisory); 8 MB halves the per-partition state
    * again. */
  private val LpaAdvisory = Map(
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m")

  val qGraphCommunities = GraftQuery(
    "q_graph_communities",
    (s, d) => lpaOver(s, weightedTradeEdges(s, d, lit(true)),
      parts = Tables.scaledPartitions(s, d, Seq("orders", "lineitem"))),
    Some(communitiesOracle),
    bench = true,
    confs = LpaAdvisory)

  /** Session-scoped weighted base-edge artifact for the incremental
    * communities refresh — as [[cachedBaseEdges]], but carrying the
    * co-trade COUNTS (the decomposable aggregate the merge sums). */
  private val baseWeightedCache = SessionCache[(String, String), DataFrame]()
  private[graft] val baseWeightedDerivations =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def cachedWeightedBaseEdges(
      s: org.apache.spark.sql.SparkSession, d: String,
      split: String): DataFrame =
    baseWeightedCache(s, (d, split)) {
      baseWeightedDerivations.incrementAndGet()
      weightedTradeEdges(s, d,
        col("o_orderdate") < lit(split).cast("date"))
        .localCheckpoint(true)
    }

  /** Incremental communities — [[qGraphPagerankInc]]'s refresh
    * contract transplanted to LPA, with one addition: the merged
    * quantity is a WEIGHTED edge list, and co-trade counts are a
    * decomposable aggregate, so per-era counts merged by one
    * (a, b)-keyed SUM equal the full-history counts exactly (the
    * IncrementalAgg identity — where pagerank's distinct edge set
    * merges by distinct-union, weights merge by summation). Edge
    * DERIVATION is delta-sized (the orders ⋈ lineitem walk reads the
    * delta slice, filter pushed to the scan); the LPA ITERATION is
    * graph-sized by design, exactly what q_graph_communities pays.
    * The oracle is the FULL-RECOMPUTE formulation, so the hash gate
    * proves the merge path drifts from re-derivation by nothing;
    * PagerankSpec adds slice invariance and the derive-once cache
    * contract. */
  val qGraphCommunitiesInc = GraftQuery(
    "q_graph_communities_inc",
    (s, d) => {
      import s.implicits._
      val split = "1996-01-01"
      val base = cachedWeightedBaseEdges(s, d, split)
      val delta = weightedTradeEdges(s, d,
        $"o_orderdate" >= lit(split).cast("date"))
      val merged = base.unionByName(delta)
        .groupBy($"a", $"b").agg(sum($"w").as("w"))
      lpaOver(s, merged,
        parts = Tables.scaledPartitions(s, d, Seq("orders", "lineitem")))
    },
    Some(communitiesOracle),
    confs = LpaAdvisory)

  /** The one k-core peel, shared by both registry queries (3 peels
    * toward the 10-core, and the 60-core run to its fixpoint) and
    * KcoreSpec's constructed-cascade fixtures. Input is a
    * directed-distinct edge list (a, b); each round peels every node
    * whose residual degree fell below k (recording the round and the
    * degree it held when peeled) and drops its edges — so a removal
    * can cascade into the next round. Survivors report round 0 with
    * their residual degree. Hitting the `maxRounds` cap does not
    * throw: the unpeeled nodes report round 0 the same way, and
    * max(peel_round) is the number of rounds used.
    *
    * Degrees are maintained FRONTIER-DELTA, not recomputed: the full
    * degree aggregate runs exactly once, and each round subtracts the
    * per-survivor count of edges into that round's peeled set.
    * The delta formulation is exact, not approximate: after the anti
    * join removes edges incident to peeled nodes, a survivor's degree
    * drops by precisely its edge count into the peeled set (edges
    * between two peeled nodes never touch a survivor's count), and a
    * survivor losing ALL its edges keeps its row at dg = 0 — the same
    * value the old alive-set left join read for it. The degree table
    * doubles as the alive set (one row per surviving node), so the
    * unrolled per-round-recompute oracle hashes identically.
    *
    * An EMPTY peel is a fixpoint and ends the loop: the peel condition
    * reads only `deg`, which a round that peels nothing leaves as it
    * is, so every later round would peel nothing too — identical
    * output under the same bounded-round contract. At sf10 k=10 the
    * cascade settles after one small peel (8,100 of 1.6M nodes), and
    * the early exit removed 2/3 of the round work (201 s before). */
  private[graft] def kcoreOver(s: org.apache.spark.sql.SparkSession,
      e0: DataFrame, k: Int, maxRounds: Int, parts: Int): DataFrame = {
    import s.implicits._
    // EXPLICIT count (the pagerankOver rationale): the immutable edge
    // list is probed by an a-keyed join every round, and a plain
    // HashPartitioning(a, parts) is the only declarable layout a JOIN
    // can align to. The 60-core run to the fixpoint is no exception:
    // on a 4-core box at sf0.01 it built in 25 Spark jobs here vs 38
    // on a loop that rewrote the edge list each round, at an equal
    // step time (2.81 vs 2.90 s, median of 6 benchmark pairs).
    //
    // The edge list is IMMUTABLE here: checkpointed once (partitioned
    // and sorted by `a`) and never rewritten. Maintaining the shrunken
    // subgraph per round — two edge-scale anti-join scans plus a full
    // edge re-checkpoint — was the dominant round cost at sf10, and
    // the peel never reads survivors' edges again (the survivors'
    // residual degree lives in `deg`). Each edge is instead
    // subtracted from `deg` exactly once: in the round its first
    // endpoint is peeled. Rows the probe produces for NON-survivors
    // (the other endpoint peeled earlier or in the same round) drop
    // out of the degree update by construction, because the update
    // joins FROM the surviving slice of `deg` — no cumulative
    // anti-join bookkeeping needed.
    val edges = e0.union(e0.select($"b".as("a"), $"a".as("b")))
      // dedup rides the layout exchange — see pagerankOver
      .repartition(parts, $"a").dropDuplicates().sortWithinPartitions($"a")
      .serCheckpoint()
    // the ONLY full-graph degree aggregate (exchange-free over the
    // pre-partitioned list); rounds maintain it by delta. The degree
    // tables and the peeled slices feed the OUTPUT: deferred
    val deg0 = Checkpoints.defer(
      edges.groupBy($"a").agg(count(lit(1)).as("dg")).serCheckpoint())
    // long-encoded ids through the whole peel; decoded once at output
    val peels = Seq.newBuilder[DataFrame]
    val (deg, _) = Checkpoints.iterate(deg0, maxRounds) { (deg, r) =>
      // checkpoint the (small) peeled slice so the output reads
      // round-sized blocks and the delta join probes a materialized table
      val peeled = Checkpoints.defer(deg.filter($"dg" < k)
        .select($"a".as("node"), lit(r).as("peel_round"), $"dg".as("deg"))
        .serCheckpoint())
      if (peeled.isEmpty) { // the fixpoint (see the scaladoc)
        Checkpoints.release(peeled)
        None
      } else {
        peels += peeled
        // frontier delta: how many edges each node loses to this
        // peel. Probe from the PEELED side of the symmetric list: the
        // join keys on `a` (the edge partitioning key — aligned,
        // never an edge-scale shuffle even when a first peel outgrows
        // the broadcast threshold), and the groupBy($"b") shuffles
        // only the matched slice — bounded by the peeled set's
        // ORIGINAL degree sum (the immutable list replays a late
        // peel's already-removed edges too; they drop in the update
        // join below), so frontier-proportional, never edge-scale.
        // The b-keyed variant measured +14% at sf10 — a big first
        // peel re-shuffled the FULL edge list on `b`.
        val lost = edges.join(peeled.select($"node".as("a")), Seq("a"))
          .groupBy($"b").agg(count(lit(1)).as("lost"))
          .select($"b".as("a"), $"lost")
        // survivors-only update: `lost` rows keyed by peeled nodes
        // (either round) miss the dg >= k slice and vanish — exactly
        // the edges that must not count
        Some(deg.filter($"dg" >= k).join(lost, Seq("a"), "left")
          .select($"a", ($"dg" - coalesce($"lost", lit(0L))).as("dg")))
      }
    }
    Checkpoints.defer(deg)
    Checkpoints.release(edges)
    val out = peels.result().foldLeft(
      Seq.empty[(Long, Int, Long)].toDF("node", "peel_round", "deg"))(
      _.unionByName(_))
    // deg IS the survivors' residual degree table — no final aggregate
    out.unionByName(
        deg.select($"a".as("node"), lit(0).as("peel_round"), $"dg".as("deg")))
      .select(decodeNode("node").as("node"), $"peel_round", $"deg")
  }

  /** k-core decomposition (bounded peel) on the customer–supplier
    * trade graph — the standard graph-cleaning primitive: repeatedly
    * strip nodes of degree < k so only the densely-interconnected
    * core survives (degeneracy ordering, spam/fringe trimming, the
    * usual pre-pass before community or embedding work). True k-core
    * iterates to a fixed point; this is the SAME fixed-round
    * discipline as q_graph_pagerank and the LPA communities — 3 peel
    * rounds, each recorded, so a node's row says either the round it
    * fell (1–3, with the degree it held) or 0 = still in the
    * residual core with its remaining degree. Each extra round is one
    * more (delta count + degree update); the round count is a dial,
    * not a structural limit.
    *
    * Scale shape: ONE full-graph degree hash-aggregate total (over
    * the pre-partitioned edge list, exchange-free); each round then
    * costs only frontier-sized work — a delta count of edges into the
    * peeled set and a survivors-only degree update, every
    * intermediate checkpointed exactly like the pagerank/LPA rounds;
    * nothing is collected, and the oracle unrolls the identical three
    * per-round-recompute rounds so the hash gate proves the delta
    * maintenance equals recomputation cascade step for step. */
  val qGraphKcore = GraftQuery(
    "q_graph_kcore",
    (s, d) => kcoreOver(s, tradeEdgesRaw(s, d, lit(true)), k = 10,
      maxRounds = 3,
      parts = Tables.scaledPartitions(s, d, Seq("orders", "lineitem"))),
    Some(kcoreOracle(k = 10, rounds = 3)),
    bench = true)

  /** DuckDB oracle for both k-core queries: `rounds` unrolled
    * per-round-recompute peels at threshold `k`, peeled rows with
    * their round and degree, survivors as round 0. */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    // Every round CTE is MATERIALIZED: DuckDB inlines CTEs by
    // default, and each u_r is referenced by both d_r and u_{r+1} —
    // the chained rounds would replay exponentially (the
    // communitiesOracle lesson; at sf1 the inlined form spilled
    // past 80 GB of temp before failing).
    val peel = (r: Int) => s"""
      p$r AS MATERIALIZED (SELECT a, dg FROM d$r WHERE dg < $k),
      a$r AS MATERIALIZED (SELECT a FROM d$r WHERE dg >= $k),
      u${r + 1} AS MATERIALIZED (
        SELECT u.a, u.b FROM u$r u
        JOIN a$r x ON u.a = x.a JOIN a$r y ON u.b = y.a),
      d${r + 1} AS MATERIALIZED (
        SELECT a$r.a, CAST(COALESCE(cnt, 0) AS BIGINT) AS dg
        FROM a$r LEFT JOIN (
          SELECT a, COUNT(*) AS cnt FROM u${r + 1} GROUP BY 1) c
        USING (a))"""
    val peelSelects = (1 to rounds).map(r =>
      s"SELECT a, CAST($r AS INT), dg FROM p$r")
    s"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                      's' || CAST(l_suppkey AS VARCHAR) AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    u1 AS MATERIALIZED (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
    n1 AS MATERIALIZED (SELECT DISTINCT a FROM u1),
    d1 AS MATERIALIZED (
      SELECT n1.a, CAST(COALESCE(cnt, 0) AS BIGINT) AS dg
      FROM n1 LEFT JOIN (
        SELECT a, COUNT(*) AS cnt FROM u1 GROUP BY 1) c USING (a)),
    ${(1 to rounds).map(peel).mkString(", ")}
    SELECT node, peel_round, deg FROM (
      ${peelSelects.mkString("\n      UNION ALL\n      ")}
      UNION ALL
      SELECT a, CAST(0 AS INT), dg FROM d${rounds + 1}
    ) t(node, peel_round, deg)"""
  }

  /** Full (fixpoint) k-core decomposition on the trade graph — the
    * answer to "give me the 60-core", where [[qGraphKcore]] answers
    * "3 peels toward the 10-core". k = 60 because that is where this
    * graph actually cascades (measured: 3 peel rounds at sf0.01, 6 at
    * sf0.1 — k = 10 converges after a single peel, which would make
    * the fixpoint run indistinguishable from the bounded one);
    * maxRounds = 24 is the runaway guard, 4× the deepest observed
    * cascade. It runs the same [[kcoreOver]] peel as [[qGraphKcore]]:
    * the loop stops on the first empty peel, so "run to the fixpoint"
    * is only a larger `maxRounds`.
    *
    * Oracle: the bounded-peel formulation can NOT express "repeat
    * until no peels" in static SQL, so the oracle unrolls 16
    * MATERIALIZED rounds — strictly more than any observed
    * convergence depth (≤ 6 at 10× scale), and every post-fixpoint
    * round is a no-op on an already-stable (usually empty) alive set,
    * so unrolled-16 ≡ fixpoint. If a larger SF ever cascades past 16
    * rounds the hash gate FAILS (oracle not yet converged) rather
    * than silently passing — the bound is self-auditing. */
  val qGraphKcoreFull = GraftQuery(
    "q_graph_kcore_full",
    (s, d) => kcoreOver(s, tradeEdgesRaw(s, d, lit(true)), k = 60,
      maxRounds = 24,
      parts = Tables.scaledPartitions(s, d, Seq("orders", "lineitem"))),
    Some(kcoreOracle(k = 60, rounds = 16)),
    // bench-flagged round 10 (VERDICT r9 #7): the fixpoint run's
    // convergence-dependent cost (5s-class in-sweep) was top-5
    // territory with no recorded baseline — the 2x gate now covers it
    bench = true)

  val all: Seq[GraftQuery] =
    Seq(qCdcEvents, qCdcOffMarket, qGraphNodeProps, qCdcScd2, qCdcPitJoin,
      qMvMerge, qGraphPagerank, qGraphPagerankInc, qGraphTriangles,
      qGraphCommunities, qGraphCommunitiesInc, qGraphKcore,
      qGraphKcoreFull)
}
