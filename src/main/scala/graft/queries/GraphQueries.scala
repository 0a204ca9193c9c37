package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.QueryFixtures._

/** Graph queries: `Graph` and `Funnel`.
  */
object GraphQueries {

  /** The q280/q288/q292 test graph: 4-cliques over consecutive
    * custkeys plus the c → c+1 chain — deterministic, linear in the
    * customer table, triangle-rich. Kept in one place so the three
    * graph queries can never drift apart.
    */
  private def cliqueChainEdges(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("c"),
        expr("c_custkey div 4").as("g"))
    val a = c.select(col("g"), col("c").as("src"))
    val b = c.select(col("g").as("g2"), col("c").as("dst"))
    val clique = a.join(b, col("g") === col("g2")
        && col("src") < col("dst"))
      .select(col("src"), col("dst"))
    val chain = c.select(col("c").as("src"), (col("c") + 1).as("dst"))
      .join(c.select(col("c").as("__n")), col("dst") === col("__n"),
        "left_semi")
    clique.unionByName(chain)
  }

  /** q189 oracle: the URL chain (shared CTEs), domain projection
    * (node = min doc_id per registered domain), the deterministic link
    * graph, and the q164 PageRank recurrence unrolled over it — the
    * whole composed pipeline under one hash.
    */
  private def domainRankOracleSql(iters: Int, scale: Long = 1000000L,
      dampNum: Long = 17L, dampDen: Long = 20L): String = {
    val base = ((dampDen - dampNum) * scale) / dampDen
    val head =
      raw"""WITH ${urlChainCtes},
         |dom AS (SELECT h.doc_id, r.registered_domain AS rd
         |  FROM hosts h JOIN reg r ON r.host = h.host
         |  WHERE r.registered_domain IS NOT NULL),
         |ids AS (SELECT rd, CAST(min(doc_id) AS BIGINT) AS node
         |  FROM dom GROUP BY rd),
         |d2n AS (SELECT d0.doc_id, i.node FROM dom d0
         |  JOIN ids i ON i.rd = d0.rd),
         |lk AS (SELECT doc_id, (doc_id * 17 + 3) % 500 AS target
         |  FROM documents),
         |e AS (SELECT DISTINCT a.node AS src, b.node AS dst
         |  FROM lk JOIN d2n a ON a.doc_id = lk.doc_id
         |  JOIN d2n b ON b.doc_id = lk.target
         |  WHERE a.node <> b.node),
         |n AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e
         |  UNION ALL SELECT dst FROM e)),
         |d AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e
         |  GROUP BY src),
         |r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank FROM n)"""
        .stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      raw""",
         |s$i AS (SELECT e.dst AS node, sum(r$p.rank // d.outdeg) AS insum
         |  FROM e JOIN r$p ON r$p.node = e.src JOIN d ON d.src = e.src
         |  GROUP BY e.dst),
         |r$i AS (SELECT n.node, CAST($base +
         |    ($dampNum * COALESCE(s$i.insum, 0)) // $dampDen AS BIGINT)
         |    AS rank
         |  FROM n LEFT JOIN s$i ON s$i.node = n.node)""".stripMargin
    }.mkString
    head + steps +
      s"\nSELECT i.rd AS registered_domain, r$iters.rank " +
      s"FROM r$iters JOIN ids i ON i.node = r$iters.node"
  }

  /** q164 oracle: the integer PageRank recurrence unrolled to `iters`
    * CTE levels (DuckDB's recursive CTEs disallow aggregates in the
    * recursive member, so a fixed iteration count unrolls instead).
    * `//` is DuckDB integer floor division — same lattice as the
    * engine's `div`.
    */
  private def pageRankOracleSql(iters: Int, scale: Long = 1000000L,
      dampNum: Long = 17L, dampDen: Long = 20L): String = {
    val base = ((dampDen - dampNum) * scale) / dampDen
    val head =
      raw"""WITH f AS (SELECT DISTINCT o_custkey AS src,
         |    1000000 + l_suppkey AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |d AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e
         |  GROUP BY src),
         |r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank FROM n)"""
        .stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      raw""",
         |s$i AS (SELECT e.dst AS node, sum(r$p.rank // d.outdeg) AS insum
         |  FROM e JOIN r$p ON r$p.node = e.src JOIN d ON d.src = e.src
         |  GROUP BY e.dst),
         |r$i AS (SELECT n.node, CAST($base +
         |    ($dampNum * COALESCE(s$i.insum, 0)) // $dampDen AS BIGINT)
         |    AS rank
         |  FROM n LEFT JOIN s$i ON s$i.node = n.node)""".stripMargin
    }.mkString
    head + steps + s"\nSELECT node, rank FROM r$iters"
  }

  /** q174 oracle: the TrustRank recurrence unrolled like q164's, with
    * initial mass and the base term gated on seed membership.
    */
  private def trustRankOracleSql(iters: Int, scale: Long = 1000000L,
      dampNum: Long = 17L, dampDen: Long = 20L): String = {
    val base = ((dampDen - dampNum) * scale) / dampDen
    val head =
      raw"""WITH f AS (SELECT DISTINCT o_custkey AS src,
         |    1000000 + l_suppkey AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f),
         |sd AS (SELECT DISTINCT c_custkey AS node FROM customer
         |  WHERE c_nationkey = 0),
         |n AS (SELECT node, CAST(max(s) AS BIGINT) AS is_seed FROM (
         |    SELECT src AS node, 0 AS s FROM e
         |    UNION ALL SELECT dst, 0 FROM e
         |    UNION ALL SELECT node, 1 FROM sd) GROUP BY node),
         |d AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e
         |  GROUP BY src),
         |r0 AS (SELECT node, CAST(is_seed * $scale AS BIGINT) AS rank
         |  FROM n)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      raw""",
         |s$i AS (SELECT e.dst AS node, sum(r$p.rank // d.outdeg) AS insum
         |  FROM e JOIN r$p ON r$p.node = e.src JOIN d ON d.src = e.src
         |  GROUP BY e.dst),
         |r$i AS (SELECT n.node, CAST(n.is_seed * $base +
         |    ($dampNum * COALESCE(s$i.insum, 0)) // $dampDen AS BIGINT)
         |    AS rank
         |  FROM n LEFT JOIN s$i ON s$i.node = n.node)""".stripMargin
    }.mkString
    head + steps + s"\nSELECT node, rank FROM r$iters"
  }

  /** `iters` unrolled synchronous value-iteration CTE levels over
    * `st(removed, src, dst, n)` for the q336 oracle — v_i folds
    * v_{i-1} through the transition counts with the absorbing
    * rewards fixed (conv = 10⁶, null = 0), integral division per
    * state exactly as the engine's per-round agg.
    */
  private def markovValueIterSql(iters: Int): String =
    (1 to iters).map { i =>
      raw"""v$i AS (SELECT st.removed, st.src AS state,
         |    CAST(sum(st.n * CASE WHEN st.dst = '__conv__'
         |        THEN 1000000
         |      WHEN st.dst = '__null__' THEN 0
         |      ELSE COALESCE(p.v, 0) END) // sum(st.n) AS BIGINT)
         |      AS v
         |  FROM st LEFT JOIN v${i - 1} p ON p.removed = st.removed
         |    AND p.state = st.dst
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")

  /** Shared clique+chain edge CTE chain (ends at `e` = canonical
    * undirected edges) — the q280/q288/q292 derivation, one source of
    * truth mirroring [[cliqueChainEdges]].
    */
  private def cliqueChainSqlWith(extra: String): String =
    raw"""c AS (SELECT CAST(c_custkey AS BIGINT) AS c,
       |    c_custkey // 4 AS g FROM customer),
       |cl AS (SELECT a.c AS s, b.c AS d
       |  FROM c a JOIN c b ON a.g = b.g AND a.c < b.c),
       |ch AS (SELECT a.c AS s, a.c + 1 AS d FROM c a
       |  WHERE EXISTS (SELECT 1 FROM c x WHERE x.c = a.c + 1)),
       |e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
       |  FROM (SELECT * FROM cl UNION ALL SELECT * FROM ch)
       |  WHERE s <> d$extra)""".stripMargin

  private def cliqueChainSql: String = cliqueChainSqlWith("")

  private def cliqueChainSqlSparse: String =
    cliqueChainSqlWith(" AND (s + d) % 3 <> 0")

  /** `iters` unconditional synchronous k-core peels over `e`:
    * s0 = all nodes, s_i = nodes with induced degree ≥ k in s_{i−1} —
    * idempotent once the fixpoint is reached, so a fixed chain equals
    * the engine's detected-convergence result whenever the engine ran
    * green (it refuses past maxIters).
    */
  private def kCorePeelSql(iters: Int, k: Int): String = {
    // every s_i is referenced TWICE by e_{i+1}: without MATERIALIZED,
    // CTE inlining doubles the plan per peel (2^iters scans of the
    // base table — blew the open-file limit at 8 peels).
    val sb = new StringBuilder(
      "n0 AS (SELECT a AS node FROM e UNION SELECT b FROM e),\n" +
        "s0 AS MATERIALIZED (SELECT node FROM n0)")
    for (i <- 1 to iters) {
      val p = i - 1
      sb ++= s""",
e$i AS (SELECT e.a, e.b FROM e JOIN s$p x ON x.node = e.a
  JOIN s$p y ON y.node = e.b),
d$i AS (SELECT node, count(*) AS dg FROM (SELECT a AS node FROM e$i
  UNION ALL SELECT b FROM e$i) GROUP BY node),
s$i AS MATERIALIZED (SELECT node FROM d$i WHERE dg >= $k)"""
    }
    sb.toString
  }

  val specs: Seq[QuerySpec] = Seq(
    // INTEGER-LATTICE PAGERANK over the customer↔supplier trade graph
    // (suppliers offset to a disjoint id range, symmetric edges, 5
    // synchronous iterations). Every rank is exact fixed-point — the
    // oracle unrolls the identical floor-division recurrence, so the
    // result is bit-equal across engines AND across cluster schedules.
    QuerySpec("q164_pagerank", (s, dir) => {
      import graft.operators.Graph
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val fwd = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        .distinct()
      val edges = fwd.union(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRankInt(edges, "src", "dst", iters = 5)
    },
      pageRankOracleSql(5)),

    // THE COMPOSED WEB-CURATION CHAIN: URLs → canonical hosts →
    // registered domains (q186's machinery) → a deterministic doc link
    // graph projected onto DOMAIN nodes (node id = min doc_id per
    // domain) → 5 iterations of integer-lattice PageRank. The whole
    // pipeline — regex canonicalization, suffix argmax, graph
    // projection, rank recurrence — sits under ONE oracle hash, the
    // q149 composition pattern for the host-ranking story.
    QuerySpec("q189_domain_rank", (s, dir) => {
      import graft.operators.{Curation, Graph}
      import s.implicits._
      val u = urlFixture(s, dir)
      val sfx = Seq("com", "org", "co.uk", "*.ck", "!www.ck",
        "// comment lines and blanks are ignored", "").toDF("suffix")
      val dom = u
        .join(Curation.registeredDomains(u, "host", sfx, "suffix"),
          Seq("host"))
        .filter(col("registered_domain").isNotNull)
        .select(col("doc_id"), col("registered_domain"))
      val ids = dom.groupBy(col("registered_domain"))
        .agg(min(col("doc_id")).as("node"))
      val d2n = dom.join(ids, Seq("registered_domain"))
        .select(col("doc_id"), col("node"))
      val links = t(s, dir, "documents").select(col("doc_id"),
        ((col("doc_id") * 17 + 3) % 500).as("target"))
      val edges = links
        .join(d2n.select(col("doc_id"), col("node").as("src")),
          Seq("doc_id"))
        .join(d2n.select(col("doc_id").as("target"),
          col("node").as("dst")), Seq("target"))
        .select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val ranks = Graph.pageRankInt(edges, "src", "dst", iters = 5)
      ranks.join(ids, ranks("node") === ids("node"))
        .select(col("registered_domain"), col("rank"))
    },
      domainRankOracleSql(5)),

    // BIPARTITE CO-OCCURRENCE PROJECTION (item-item graph constructor):
    // customers sharing >= 2 suppliers on a deterministic 1/20 order
    // sample, weighted by the shared count. Hub expansion is capped
    // (super-hub = no signal, the IDF argument); counts integer-exact.
    // q173: the projection as a self-join on the hub key, with the
    // engine's maxHubDegree guard MIRRORED (hub AS ...) so the gate
    // stays green even on data where the cap binds.
    QuerySpec("q173_copurchase_graph", (s, dir) => {
      import graft.operators.Graph
      val o = t(s, dir, "orders")
        .filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"))
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey"))
      Graph.bipartiteProject(edges, "o_custkey", "l_suppkey",
        minShared = 2L, maxHubDegree = 100000)
    },
      raw"""WITH e AS (SELECT DISTINCT o_custkey AS l, l_suppkey AS r
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |  WHERE o_orderkey % 20 = 0),
         |hub AS (SELECT r FROM e GROUP BY r
         |  HAVING count(*) BETWEEN 2 AND 1000)
         |SELECT a.l AS id1, b.l AS id2, CAST(count(*) AS BIGINT) AS n_shared
         |FROM e a JOIN hub h ON h.r = a.r
         |JOIN e b ON a.r = b.r AND a.l < b.l
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // TRUSTRANK: q164's trade graph with teleport restricted to a seed
    // whitelist (nation-0 customers) — trust decays with link distance
    // from the seeds on the same bit-exact integer lattice.
    QuerySpec("q174_trustrank", (s, dir) => {
      import graft.operators.Graph
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val fwd = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        .distinct()
      val edges = fwd.union(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = t(s, dir, "customer").filter(col("c_nationkey") === 0)
        .select(col("c_custkey"))
      Graph.trustRankInt(edges, "src", "dst", seeds, "c_custkey",
        iters = 5)
    },
      trustRankOracleSql(5)),

    // HITS HUBS & AUTHORITIES on the integer lattice: the q164 trade
    // graph kept DIRECTED (customers -> suppliers), two synchronous
    // unnormalized rounds -- exact integer path counts, so customers
    // are pure hubs (authority 0) and suppliers pure authorities.
    // Oracle unrolls the recurrence join-for-join like q164's.
    // q240: two unnormalized HITS rounds unrolled join-for-join (the
    // q164 pattern) on the DIRECTED customer->supplier graph.
    QuerySpec("q240_hits", (s, dir) => {
      import graft.operators.Graph
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val fwd = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
      Graph.hitsInt(fwd, "src", "dst", iters = 2)
    },
      raw"""WITH f AS (SELECT DISTINCT o_custkey AS src,
         |    1000000 + l_suppkey AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |n AS (SELECT src AS node FROM f UNION SELECT dst FROM f),
         |a1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS auth
         |  FROM f GROUP BY dst),
         |a1f AS (SELECT n.node,
         |    CAST(COALESCE(a1.auth, 0) AS BIGINT) AS auth
         |  FROM n LEFT JOIN a1 ON a1.node = n.node),
         |h1 AS (SELECT f.src AS node, CAST(sum(a1f.auth) AS BIGINT)
         |    AS hub
         |  FROM f JOIN a1f ON a1f.node = f.dst GROUP BY f.src),
         |h1f AS (SELECT n.node,
         |    CAST(COALESCE(h1.hub, 0) AS BIGINT) AS hub
         |  FROM n LEFT JOIN h1 ON h1.node = n.node),
         |a2 AS (SELECT f.dst AS node, CAST(sum(h1f.hub) AS BIGINT)
         |    AS auth
         |  FROM f JOIN h1f ON h1f.node = f.src GROUP BY f.dst),
         |a2f AS (SELECT n.node,
         |    CAST(COALESCE(a2.auth, 0) AS BIGINT) AS auth
         |  FROM n LEFT JOIN a2 ON a2.node = n.node),
         |h2 AS (SELECT f.src AS node, CAST(sum(a2f.auth) AS BIGINT)
         |    AS hub
         |  FROM f JOIN a2f ON a2f.node = f.dst GROUP BY f.src),
         |h2f AS (SELECT n.node,
         |    CAST(COALESCE(h2.hub, 0) AS BIGINT) AS hub
         |  FROM n LEFT JOIN h2 ON h2.node = n.node)
         |SELECT n.node, h2f.hub, a2f.auth
         |FROM n JOIN h2f ON h2f.node = n.node
         |  JOIN a2f ON a2f.node = n.node""".stripMargin),

    // FUNNEL ANALYSIS over the event stream: view -> click -> purchase
    // with STRICT event-time ordering, per-user completion times and
    // depth -- k-1 chained (filtered scan, equi join, map-side agg)
    // rounds, no windows, no per-user history collection.
    // q241: the chained strict-min funnel replayed agg-for-agg on
    // int64-nanos event time.
    QuerySpec("q241_funnel", (s, dir) => {
      import graft.operators.Funnel
      Funnel.funnel(events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
    },
      raw"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts
         |  FROM events),
         |s1 AS (SELECT user_id AS "user", CAST(min(ts) AS BIGINT) AS ts1
         |  FROM e WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (SELECT s1."user", s1.ts1,
         |    CAST(min(CASE WHEN c.ts > s1.ts1 THEN c.ts END) AS BIGINT)
         |      AS ts2
         |  FROM s1 LEFT JOIN e c ON c.user_id = s1."user"
         |    AND c.event_type = 'click'
         |  GROUP BY 1, 2),
         |s3 AS (SELECT s2."user", ts1, ts2,
         |    CAST(min(CASE WHEN p.ts > s2.ts2 THEN p.ts END) AS BIGINT)
         |      AS ts3
         |  FROM s2 LEFT JOIN e p ON p.user_id = s2."user"
         |    AND p.event_type = 'purchase'
         |  GROUP BY 1, 2, 3)
         |SELECT "user", ts1, ts2, ts3,
         |  CAST(1 + CASE WHEN ts2 IS NULL THEN 0 ELSE 1 END
         |    + CASE WHEN ts3 IS NULL THEN 0 ELSE 1 END AS INTEGER)
         |    AS steps_completed
         |FROM s3""".stripMargin),

    // LABEL PROPAGATION (Zhu-Ghahramani hard variant) on the trade
    // graph: every 10th customer seeds its nation id, three synchronous
    // plurality rounds with min-label ties, seeds pinned -- integer
    // votes end to end, so the oracle can unroll round-for-round.
    // q247: three plurality rounds unrolled — votes, node-partitioned
    // argmax with (votes desc, label asc), seeds re-pinned each round.
    QuerySpec("q247_label_prop", (s, dir) => {
      import graft.operators.Graph
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
      val seeds = t(s, dir, "customer")
        .filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_nationkey"))
      Graph.labelPropInt(edges, "src", "dst", seeds, "c_custkey",
        "c_nationkey", iters = 3)
    },
      raw"""WITH f0 AS (SELECT o_custkey AS src, 1000000 + l_suppkey AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM f0 UNION ALL SELECT dst, src FROM f0)),
         |sd AS (SELECT DISTINCT c_custkey AS node,
         |    CAST(c_nationkey AS BIGINT) AS label
         |  FROM customer WHERE c_custkey % 10 = 0),
         |v1 AS (SELECT e.dst AS node, l.label, count(*) AS v
         |  FROM e JOIN sd l ON l.node = e.src GROUP BY 1, 2),
         |a1 AS (SELECT node, label FROM v1
         |  QUALIFY row_number() OVER (PARTITION BY node
         |    ORDER BY v DESC, label ASC) = 1),
         |l1 AS (SELECT * FROM sd UNION ALL
         |  SELECT * FROM a1 WHERE node NOT IN (SELECT node FROM sd)),
         |v2 AS (SELECT e.dst AS node, l.label, count(*) AS v
         |  FROM e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
         |a2 AS (SELECT node, label FROM v2
         |  QUALIFY row_number() OVER (PARTITION BY node
         |    ORDER BY v DESC, label ASC) = 1),
         |l2 AS (SELECT * FROM sd UNION ALL
         |  SELECT * FROM a2 WHERE node NOT IN (SELECT node FROM sd)),
         |v3 AS (SELECT e.dst AS node, l.label, count(*) AS v
         |  FROM e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
         |a3 AS (SELECT node, label FROM v3
         |  QUALIFY row_number() OVER (PARTITION BY node
         |    ORDER BY v DESC, label ASC) = 1),
         |l3 AS (SELECT * FROM sd UNION ALL
         |  SELECT * FROM a3 WHERE node NOT IN (SELECT node FROM sd))
         |SELECT node, label FROM l3""".stripMargin),

    // LAST-TOUCH ATTRIBUTION: each purchase attributed to the user's
    // latest click STRICTLY before it -- a RANGE window bound (not
    // ROWS: equal-ts pairs must never attribute, and ROWS is arrival-
    // order-dependent on ties); organic purchases keep null.
    // q250: the same strictly-before RANGE window on int64-nanos time.
    QuerySpec("q250_attribution", (s, dir) => {
      import graft.operators.Funnel
      Funnel.attributeLastTouch(events(s, dir), "user_id", "event_type",
        "ts", "event_id", "purchase", "click")
    },
      raw"""WITH e AS (SELECT user_id AS "user", event_type AS etype,
         |    epoch_ns(ts) AS ts, event_id FROM events
         |  WHERE event_type IN ('purchase', 'click')),
         |w AS (SELECT "user", etype, ts, event_id,
         |    max(CASE WHEN etype = 'click' THEN ts END) OVER (
         |      PARTITION BY "user" ORDER BY ts
         |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS touch_ts
         |  FROM e)
         |SELECT "user", event_id, ts AS conv_ts, touch_ts,
         |  ts - touch_ts AS latency
         |FROM w WHERE etype = 'purchase'""".stripMargin),

    // FUNNEL CONVERSION-LATENCY HISTOGRAM: per consecutive step pair,
    // completion latencies in integer minute buckets -- the "how long"
    // view next to q241's "how many"; one funnel pass + one map-side-
    // combined count.
    // q251: the q241 funnel chain + the same integer minute buckets.
    QuerySpec("q251_funnel_latency", (s, dir) => {
      import graft.operators.Funnel
      Funnel.funnelLatencyHistogram(events(s, dir), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"),
        bucketWidth = 60000000000L)
    },
      raw"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts
         |  FROM events),
         |s1 AS (SELECT user_id AS "user", CAST(min(ts) AS BIGINT) AS ts1
         |  FROM e WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (SELECT s1."user", s1.ts1,
         |    CAST(min(CASE WHEN c.ts > s1.ts1 THEN c.ts END) AS BIGINT)
         |      AS ts2
         |  FROM s1 LEFT JOIN e c ON c.user_id = s1."user"
         |    AND c.event_type = 'click'
         |  GROUP BY 1, 2),
         |s3 AS (SELECT s2."user", ts1, ts2,
         |    CAST(min(CASE WHEN p.ts > s2.ts2 THEN p.ts END) AS BIGINT)
         |      AS ts3
         |  FROM s2 LEFT JOIN e p ON p.user_id = s2."user"
         |    AND p.event_type = 'purchase'
         |  GROUP BY 1, 2, 3),
         |sel AS (
         |  SELECT 2 AS step, (ts2 - ts1) // 60000000000 AS bucket
         |  FROM s3 WHERE ts2 IS NOT NULL
         |  UNION ALL
         |  SELECT 3, (ts3 - ts2) // 60000000000
         |  FROM s3 WHERE ts3 IS NOT NULL)
         |SELECT CAST(step AS INTEGER) AS step,
         |  CAST(bucket AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM sel GROUP BY 1, 2""".stripMargin),

    // USER-JOURNEY TRANSITION MATRIX: first-order Markov counts over
    // each user's (ts, event_id)-ordered event sequence, row-
    // normalized to ppm -- one user-partitioned lead window.
    // q260: the same lead window on (ts, event_id).
    QuerySpec("q260_transitions", (s, dir) => {
      import graft.operators.Funnel
      Funnel.transitionMatrix(events(s, dir), "user_id", "event_type",
        "ts", "event_id")
    },
      raw"""WITH e AS (SELECT user_id, event_type AS f, epoch_ns(ts)
         |    AS ts, event_id FROM events),
         |p AS (SELECT f AS "from", lead(f) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS "to" FROM e),
         |c AS (SELECT "from", "to", CAST(count(*) AS BIGINT) AS n
         |  FROM p WHERE "to" IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT "from", sum(n) AS tot FROM c GROUP BY 1)
         |SELECT c."from", c."to", c.n,
         |  CAST(floor(CAST(c.n AS DOUBLE) * 1000000 / t.tot) AS BIGINT)
         |    AS p_ppm
         |FROM c JOIN t USING ("from")""".stripMargin),

    // FUNNEL WITH STEP TIMEOUT: view -> click -> purchase where each
    // step must land within 30 minutes of the previous one -- the
    // "converted within the session" product question; same chained
    // min-agg shape as q241 with one extra upper-bound predicate.
    // q271: the q241 chained strict-min funnel with the 30-minute
    // step bound carried inside each min-CASE.
    QuerySpec("q271_funnel_within", (s, dir) => {
      import graft.operators.Funnel
      Funnel.funnelWithin(events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        maxStepGap = 1800000000000L)
    },
      raw"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts
         |  FROM events),
         |s1 AS (SELECT user_id AS "user", CAST(min(ts) AS BIGINT) AS ts1
         |  FROM e WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (SELECT s1."user", s1.ts1,
         |    CAST(min(CASE WHEN c.ts > s1.ts1
         |      AND c.ts <= s1.ts1 + 1800000000000 THEN c.ts END)
         |      AS BIGINT) AS ts2
         |  FROM s1 LEFT JOIN e c ON c.user_id = s1."user"
         |    AND c.event_type = 'click'
         |  GROUP BY 1, 2),
         |s3 AS (SELECT s2."user", ts1, ts2,
         |    CAST(min(CASE WHEN p.ts > s2.ts2
         |      AND p.ts <= s2.ts2 + 1800000000000 THEN p.ts END)
         |      AS BIGINT) AS ts3
         |  FROM s2 LEFT JOIN e p ON p.user_id = s2."user"
         |    AND p.event_type = 'purchase'
         |  GROUP BY 1, 2, 3)
         |SELECT "user", ts1, ts2, ts3,
         |  CAST(1 + CASE WHEN ts2 IS NULL THEN 0 ELSE 1 END
         |    + CASE WHEN ts3 IS NULL THEN 0 ELSE 1 END AS INTEGER)
         |    AS steps_completed
         |FROM s3""".stripMargin),

    // SESSIONIZATION: per-user event streams cut at > 30-minute
    // inactivity gaps, one row per session with event count, bounds,
    // and duration -- (ts, event_id)-ordered so equal-timestamp runs
    // sessionize deterministically; one user-partitioned window pass.
    // q272: lag-gap session starts, ROWS-framed running sum for the
    // session index, then the per-session fold — all on int64 nanos
    // with the (ts, event_id) order.
    QuerySpec("q272_sessions", (s, dir) => {
      import graft.operators.Funnel
      Funnel.sessionStats(events(s, dir), "user_id", "ts", "event_id",
        gapNs = 1800000000000L)
    },
      raw"""WITH e AS (SELECT user_id AS "user", epoch_ns(ts) AS ts,
         |    event_id FROM events),
         |l AS (SELECT "user", ts, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
         |      WHEN ts - lag(ts) OVER w > 1800000000000 THEN 1
         |      ELSE 0 END AS nw
         |  FROM e
         |  WINDOW w AS (PARTITION BY "user" ORDER BY ts, event_id)),
         |s AS (SELECT "user", ts,
         |    CAST(sum(nw) OVER (PARTITION BY "user"
         |      ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS session_ix
         |  FROM l)
         |SELECT "user", session_ix,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(min(ts) AS BIGINT) AS start_ts,
         |  CAST(max(ts) AS BIGINT) AS end_ts,
         |  CAST(max(ts) - min(ts) AS BIGINT) AS duration
         |FROM s GROUP BY 1, 2""".stripMargin),

    // TRIANGLE COUNTS + local clustering coefficient over a 4-clique
    // customer graph (groups of 4 consecutive custkeys, all pairs,
    // plus the c -> c+1 chain) -- degree-ordered wedge enumeration,
    // orientation-invariant result replayed id-ordered by the oracle.
    // q280: triangle counts replayed with the simpler ID-ORDERED
    // triple join (the result is orientation-invariant); same clique +
    // chain edge derivation (shared CTE fragment), canonical dedup.
    QuerySpec("q280_triangles", (s, dir) => {
      import graft.operators.Graph
      Graph.triangleCounts(cliqueChainEdges(s, dir), "src", "dst")
    },
      raw"""WITH $cliqueChainSql,
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
         |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
         |  GROUP BY node),
         |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM e e1 JOIN e e2 ON e2.a = e1.b
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
         |  FROM (SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
         |    UNION ALL SELECT w FROM tri) GROUP BY node)
         |SELECT deg.node, deg.degree,
         |  CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
         |  CAST(CASE WHEN deg.degree < 2 THEN 0
         |    ELSE (2000000 * COALESCE(pn.triangles, 0))
         |      // (deg.degree * (deg.degree - 1)) END AS BIGINT)
         |    AS lcc_ppm
         |FROM deg LEFT JOIN pn ON pn.node = deg.node""".stripMargin),

    // K-CORE DECOMPOSITION: the q280 clique+chain graph sparsified by
    // (src+dst) % 3 != 0, peeled to the 2-core with convergence
    // detection -- the oracle replays 8 unconditional peels (idempotent
    // past the fixpoint the engine refuses to miss).
    // q288: eight unconditional synchronous peels (idempotent past the
    // fixpoint the engine detects), final degrees on the survivor-
    // induced subgraph; same sparsified clique+chain derivation.
    QuerySpec("q288_k_core", (s, dir) => {
      import graft.operators.Graph
      Graph.kCoreInt(cliqueChainEdges(s, dir)
          .filter((col("src") + col("dst")) % 3 =!= 0),
        "src", "dst", k = 2, maxIters = 8)
    },
      raw"""WITH ${cliqueChainSqlSparse},
         |${kCorePeelSql(8, 2)},
         |ef AS (SELECT e.a, e.b FROM e
         |  JOIN s8 x ON x.node = e.a JOIN s8 y ON y.node = e.b)
         |SELECT node, CAST(count(*) AS BIGINT) AS core_deg
         |FROM (SELECT a AS node FROM ef UNION ALL SELECT b FROM ef)
         |GROUP BY node""".stripMargin),

    // PATH MINING: top 50 five-event journeys over the event stream,
    // (ts, event_id) order, count-then-path determinism.
    // q290: first-5-event journeys, ordered string_agg per user,
    // count-then-path top 50.
    QuerySpec("q290_paths", (s, dir) => {
      import graft.operators.Funnel
      Funnel.pathMining(events(s, dir), "user_id", "event_type",
        "ts", "event_id", n = 5, k = 50)
    },
      raw"""WITH e AS (SELECT user_id AS u, epoch_ns(ts) AS ts,
         |    event_id AS id, event_type AS t FROM events),
         |r AS (SELECT u, t, row_number() OVER (PARTITION BY u
         |    ORDER BY ts, id) AS rn FROM e),
         |p AS (SELECT u, string_agg(t, '>' ORDER BY rn) AS path
         |  FROM r WHERE rn <= 5 GROUP BY u),
         |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_users
         |  FROM p GROUP BY path)
         |SELECT path, n_users FROM c
         |ORDER BY n_users DESC, path LIMIT 50""".stripMargin),

    // DEGREE ASSORTATIVITY of the q280 clique+chain graph: the
    // symmetrized Pearson r without a square root, exact integer sums,
    // one floored IEEE division.
    // q292: symmetrized degree-assortativity sums over the same edge
    // derivation; no square root by symmetry, one floored division.
    QuerySpec("q292_assortativity", (s, dir) => {
      import graft.operators.Graph
      Graph.degreeAssortativity(cliqueChainEdges(s, dir), "src", "dst")
    },
      raw"""WITH $cliqueChainSql,
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg
         |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
         |  GROUP BY node),
         |pt AS (SELECT da.dg AS x, db.dg AS y FROM e
         |  JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
         |b2 AS (SELECT x, y FROM pt UNION ALL SELECT y, x FROM pt),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx FROM b2)
         |SELECT n, n // 2 AS m, n * sxy - sx * sx AS num,
         |  n * sxx - sx * sx AS den,
         |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
         |    ELSE CAST(floor(CAST(n * sxy - sx * sx AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000)
         |      AS BIGINT) END AS r_ppm
         |FROM st""".stripMargin),

    // LINK PREDICTION: top 100 non-adjacent pairs of the clique+chain
    // graph by common-neighbor Jaccard -- wedge enumeration at the
    // shared neighbor, exact ppm, (score, v, w) determinism.
    // q294: wedge-enumerated candidate pairs, NOT EXISTS against the
    // edge set, exact-ppm Jaccard, (score, v, w) top-100.
    QuerySpec("q294_link_pred", (s, dir) => {
      import graft.operators.Graph
      Graph.jaccardLinkPred(cliqueChainEdges(s, dir), "src", "dst",
        k = 100)
    },
      raw"""WITH $cliqueChainSql,
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg
         |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
         |  GROUP BY node),
         |adj AS (SELECT a AS u, b AS n FROM e
         |  UNION ALL SELECT b, a FROM e),
         |pr AS (SELECT x.n AS v, y.n AS w,
         |    CAST(count(*) AS BIGINT) AS common
         |  FROM adj x JOIN adj y ON y.u = x.u AND x.n < y.n
         |  GROUP BY 1, 2),
         |ne AS (SELECT pr.v, pr.w, pr.common FROM pr
         |  WHERE pr.common >= 1 AND NOT EXISTS
         |    (SELECT 1 FROM e WHERE e.a = pr.v AND e.b = pr.w)),
         |sc AS (SELECT ne.v, ne.w, ne.common, dv.dg AS deg_v,
         |    dw.dg AS deg_w,
         |    CAST((1000000 * ne.common)
         |      // (dv.dg + dw.dg - ne.common) AS BIGINT) AS jaccard_ppm
         |  FROM ne JOIN deg dv ON dv.node = ne.v
         |    JOIN deg dw ON dw.node = ne.w)
         |SELECT v, w, common, deg_v, deg_w, jaccard_ppm FROM sc
         |ORDER BY jaccard_ppm DESC, v, w LIMIT 100""".stripMargin),

    // BFS HOP DISTANCES from the sparse seed set (every 100th
    // custkey) over the UNDIRECTED clique+chain graph, 6-hop bound --
    // frontier-synchronous expansion, unreachable nodes absent.
    // q298: BFS as a bounded recursive CTE over (node, dist) pairs,
    // min(dist) per node; undirected via the doubled edge relation.
    QuerySpec("q298_bfs", (s, dir) => {
      import graft.operators.Graph
      val e = cliqueChainEdges(s, dir)
      val both = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = t(s, dir, "customer")
        .filter(col("c_custkey") % 100 === 1)
        .select(col("c_custkey").as("seed"))
      Graph.bfsDistanceInt(both, "src", "dst", seeds, "seed",
        maxHops = 6)
    },
      raw"""WITH RECURSIVE $cliqueChainSql,
         |dir AS (SELECT a AS src, b AS dst FROM e
         |  UNION ALL SELECT b, a FROM e),
         |sd AS (SELECT c AS node FROM c WHERE c % 100 = 1),
         |d AS (
         |  SELECT node, 0 AS dist FROM sd
         |  UNION
         |  SELECT dir.dst AS node, d.dist + 1 AS dist
         |  FROM d JOIN dir ON dir.src = d.node WHERE d.dist < 6)
         |SELECT node, CAST(min(dist) AS BIGINT) AS dist
         |FROM d GROUP BY node""".stripMargin),

    // EDGE RECIPROCITY of a deterministic directed user graph --
    // returned-link ratio on the exact ppm lattice, loops excluded.
    // q304: distinct non-loop directed edges, EXISTS for the reverse,
    // one integer-div fold.
    QuerySpec("q304_reciprocity", (s, dir) => {
      import graft.operators.Graph
      val u = events(s, dir).select(col("user_id")).distinct()
      val fwd = u.select(col("user_id").as("src"),
        pmod(col("user_id") * 7 + 3, lit(151L)).as("dst"))
      // every 5th user's link is returned -- reciprocity ~1/5
      val back = fwd.filter(col("src") % 5 === 0)
        .select(col("dst").as("src"), col("src").as("dst"))
      Graph.reciprocity(fwd.unionByName(back), "src", "dst")
    },
      raw"""WITH u AS (SELECT DISTINCT user_id AS s FROM events),
         |fwd AS (SELECT s AS src,
         |    ((s * 7 + 3) % 151 + 151) % 151 AS dst FROM u),
         |bk AS (SELECT dst AS src, src AS dst FROM fwd
         |  WHERE src % 5 = 0),
         |e AS (SELECT DISTINCT src, dst
         |  FROM (SELECT * FROM fwd UNION ALL SELECT * FROM bk)
         |  WHERE src <> dst),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         |rr AS (SELECT CAST(count(*) AS BIGINT) AS m_recip FROM e a
         |  WHERE EXISTS (SELECT 1 FROM e b
         |    WHERE b.src = a.dst AND b.dst = a.src))
         |SELECT mm.m, rr.m_recip,
         |  CASE WHEN mm.m = 0 THEN NULL
         |    ELSE CAST((1000000 * rr.m_recip) // mm.m AS BIGINT) END
         |    AS ratio_ppm
         |FROM mm, rr""".stripMargin),

    // POSITION-BASED (U-shaped) ATTRIBUTION: touches before each
    // user's first purchase share 40/20/40 credit on the integer ppm
    // lattice; channel = the touch's event type.
    // q325: position-based attribution -- first conversion by
    // (ts, tie), strictly-prior touches positioned by the same
    // order, the 40/20/40 CASE on the integer ppm lattice.
    QuerySpec("q325_attribution", (s, dir) => {
      import graft.operators.Funnel
      Funnel.attributePositionBased(events(s, dir), "user_id",
        "event_type", "event_type", "ts", "event_id", "purchase")
    },
      raw"""WITH r AS (SELECT user_id AS u, event_type AS et,
         |    epoch_ns(ts) AS ts, event_id AS tie FROM events),
         |cv AS (SELECT u, ts AS cts, tie AS ctie FROM (
         |    SELECT u, ts, tie, row_number() OVER (PARTITION BY u
         |      ORDER BY ts, tie) AS rn
         |    FROM r WHERE et = 'purchase') WHERE rn = 1),
         |tc AS (SELECT r.u, r.et AS channel, r.ts, r.tie
         |  FROM r JOIN cv ON cv.u = r.u
         |    AND (r.ts < cv.cts OR (r.ts = cv.cts
         |      AND r.tie < cv.ctie))
         |  WHERE r.et <> 'purchase'),
         |pos AS (SELECT u, channel,
         |    CAST(row_number() OVER (PARTITION BY u
         |      ORDER BY ts, tie) AS BIGINT) AS pos,
         |    CAST(count(*) OVER (PARTITION BY u) AS BIGINT) AS k
         |  FROM tc)
         |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
         |  CAST(sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_first,
         |  CAST(sum(CASE WHEN pos = k THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_last,
         |  CAST(sum(CASE WHEN k = 1 THEN 1000000
         |    WHEN k = 2 THEN 500000
         |    WHEN pos = 1 OR pos = k THEN 400000
         |    ELSE 200000 // (k - 2) END) AS BIGINT) AS credit_ppm
         |FROM pos GROUP BY channel""".stripMargin),

    // FIRST-ORDER MARKOV REMOVAL-EFFECT ATTRIBUTION over the q325
    // touch derivation (pre-conversion event types as channels,
    // purchase absorbs): 8 synchronous ppm value-iteration rounds
    // per leave-one-channel-out scenario, removal effects and their
    // normalized shares -- the model-based companion to q325's
    // position rule.
    // q336: Markov removal effect -- the q325 touch derivation
    // extended to non-converters, per-scenario transition rewrites,
    // and the 8 synchronous ppm value-iteration rounds unrolled as
    // materialized CTE levels (the q288 peel discipline).
    QuerySpec("q336_markov_attribution", (s, dir) => {
      import graft.operators.Funnel
      Funnel.markovRemovalEffect(events(s, dir), "user_id",
        "event_type", "ts", "event_id", "purchase")
    },
      (raw"""WITH r AS (SELECT user_id AS u, event_type AS et,
         |    epoch_ns(ts) AS ts, event_id AS tie FROM events),
         |cv AS (SELECT u, ts AS cts, tie AS ctie FROM (
         |    SELECT u, ts, tie, row_number() OVER (PARTITION BY u
         |      ORDER BY ts, tie) AS rn
         |    FROM r WHERE et = 'purchase') WHERE rn = 1),
         |tc AS (SELECT r.u, r.et AS channel, r.ts, r.tie,
         |    CASE WHEN cv.u IS NOT NULL THEN '__conv__'
         |      ELSE '__null__' END AS absorb
         |  FROM r LEFT JOIN cv ON cv.u = r.u
         |  WHERE r.et <> 'purchase' AND (cv.u IS NULL
         |    OR r.ts < cv.cts OR (r.ts = cv.cts
         |      AND r.tie < cv.ctie))),
         |sq AS (SELECT u, channel, absorb,
         |    row_number() OVER (PARTITION BY u ORDER BY ts, tie)
         |      AS pos,
         |    lead(channel) OVER (PARTITION BY u ORDER BY ts, tie)
         |      AS nxt
         |  FROM tc),
         |ed AS (SELECT channel AS src, COALESCE(nxt, absorb) AS dst
         |    FROM sq
         |  UNION ALL SELECT '__start__', channel FROM sq
         |    WHERE pos = 1
         |  UNION ALL SELECT '__start__', '__conv__' FROM cv
         |    WHERE u NOT IN (SELECT u FROM tc)),
         |tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
         |  FROM ed GROUP BY 1, 2),
         |chans AS (SELECT DISTINCT c FROM (
         |    SELECT src AS c FROM tr UNION ALL SELECT dst FROM tr)
         |  WHERE c NOT IN ('__start__', '__conv__', '__null__')),
         |st AS (SELECT s.removed, t.src,
         |    CASE WHEN t.dst = s.removed THEN '__null__'
         |      ELSE t.dst END AS dst,
         |    CAST(sum(t.n) AS BIGINT) AS n
         |  FROM (SELECT c AS removed FROM chans
         |    UNION ALL SELECT '__none__') s
         |  CROSS JOIN tr t WHERE t.src <> s.removed
         |  GROUP BY 1, 2, 3),
         |v0 AS (SELECT DISTINCT removed, src AS state,
         |    CAST(0 AS BIGINT) AS v FROM st),
         |""" + markovValueIterSql(8) + raw""",
         |pf AS (SELECT v AS p_full FROM v8
         |  WHERE removed = '__none__' AND state = '__start__'),
         |pr AS (SELECT removed, v FROM v8
         |  WHERE state = '__start__' AND removed <> '__none__'),
         |re AS (SELECT chans.c AS channel, pf.p_full AS p_full_ppm,
         |    CAST(COALESCE(pr.v, 0) AS BIGINT) AS p_removed_ppm
         |  FROM chans CROSS JOIN pf
         |  LEFT JOIN pr ON pr.removed = chans.c),
         |re2 AS (SELECT channel, p_full_ppm, p_removed_ppm,
         |    CASE WHEN p_full_ppm <= 0 THEN NULL
         |      ELSE greatest(0, 1000000
         |        - (1000000 * p_removed_ppm) // p_full_ppm)
         |      END AS re_ppm FROM re),
         |tot AS (SELECT CAST(sum(re_ppm) AS BIGINT) AS t FROM re2)
         |SELECT channel, CAST(p_full_ppm AS BIGINT) AS p_full_ppm,
         |  p_removed_ppm, CAST(re_ppm AS BIGINT) AS re_ppm,
         |  CASE WHEN t IS NULL OR t <= 0 THEN NULL
         |    ELSE CAST((1000000 * re_ppm) // t AS BIGINT)
         |    END AS share_ppm
         |FROM re2 CROSS JOIN tot""").stripMargin),

    // NEWMAN MODULARITY of the clique-id partition over the q280
    // clique+chain graph -- per-community exact e_in/deg_sum/m and
    // the ppm contribution; the score that grades what labelProp
    // finds.
    // q349: modularity -- the shared clique+chain edge CTEs, the
    // clique-id labels, per-community integers + HUGEINT ppm
    // contribution.
    QuerySpec("q349_modularity", (s, dir) => {
      import graft.operators.Graph
      val labels = t(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("node"),
          expr("c_custkey div 4").as("lab"))
      Graph.modularityPpm(cliqueChainEdges(s, dir), "src", "dst",
        labels, "node", "lab")
    },
      (raw"""WITH """ + cliqueChainSql + raw""",
         |lab AS (SELECT c AS node, g AS l FROM c),
         |j AS (SELECT la.l AS la, lb.l AS lb FROM e
         |  JOIN lab la ON la.node = e.a
         |  JOIN lab lb ON lb.node = e.b),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM j),
         |ein AS (SELECT la AS community,
         |    CAST(count(*) AS BIGINT) AS e_in
         |  FROM j WHERE la = lb GROUP BY 1),
         |ds AS (SELECT community,
         |    CAST(count(*) AS BIGINT) AS deg_sum
         |  FROM (SELECT la AS community FROM j
         |    UNION ALL SELECT lb FROM j) GROUP BY 1)
         |SELECT ds.community, ds.deg_sum,
         |  CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in, mm.m,
         |  CAST((1000000::HUGEINT
         |    * (4::HUGEINT * mm.m * COALESCE(ein.e_in, 0)
         |      - CAST(ds.deg_sum AS HUGEINT) * ds.deg_sum))
         |    // (4::HUGEINT * mm.m * mm.m) AS BIGINT) AS contrib_ppm
         |FROM ds LEFT JOIN ein ON ein.community = ds.community
         |CROSS JOIN mm""").stripMargin),

    // RFM SEGMENTATION per event type: per-user recency/frequency/
    // monetary integers and quintile scores within the segment
    // (rank windows never global -- the stated contract).
    // q354: RFM -- per-user integer aggregates, three segment-
    // partitioned rank windows with the user tie-break, quintile
    // bucketing by integer division.
    QuerySpec("q354_rfm", (s, dir) => {
      import graft.operators.Funnel
      Funnel.rfmSegments(events(s, dir)
        .select(col("event_type"), col("user_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("v")),
        "event_type", "user_id", "ts", "v",
        nowTs = 1706745600000000000L, buckets = 5)
    },
      raw"""WITH e AS (SELECT event_type AS seg, user_id AS u,
         |    epoch_ns(ts) AS t,
         |    CAST(floor(value * 100) AS BIGINT) AS v FROM events),
         |pu AS (SELECT seg, u,
         |    1706745600000000000 - max(t) AS recency,
         |    CAST(count(*) AS BIGINT) AS frequency,
         |    CAST(sum(v) AS BIGINT) AS monetary
         |  FROM e GROUP BY 1, 2),
         |rk AS (SELECT seg, u, recency, frequency, monetary,
         |    CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n,
         |    CAST(row_number() OVER (PARTITION BY seg
         |      ORDER BY recency DESC, u) AS BIGINT) AS rr,
         |    CAST(row_number() OVER (PARTITION BY seg
         |      ORDER BY frequency ASC, u) AS BIGINT) AS rf,
         |    CAST(row_number() OVER (PARTITION BY seg
         |      ORDER BY monetary ASC, u) AS BIGINT) AS rm
         |  FROM pu)
         |SELECT seg, u AS user, CAST(recency AS BIGINT) AS recency,
         |  frequency, monetary,
         |  CAST(((rr - 1) * 5) // n + 1 AS BIGINT) AS r_score,
         |  CAST(((rf - 1) * 5) // n + 1 AS BIGINT) AS f_score,
         |  CAST(((rm - 1) * 5) // n + 1 AS BIGINT) AS m_score,
         |  CAST((((rr - 1) * 5) // n + 1) * 25
         |    + (((rf - 1) * 5) // n + 1) * 5
         |    + (((rm - 1) * 5) // n + 1) AS BIGINT) AS rfm
         |FROM rk""".stripMargin),

    // TIME-DECAY ATTRIBUTION (half-life 6 h) over the q325 touch
    // derivation -- exact dyadic step weights (no exp() anywhere),
    // per-user ppm normalization; the fourth of the standard four
    // models.
    // q355: time decay -- the q325 converter-touch derivation, the
    // dyadic step weights via integer shifts, per-user HUGEINT
    // normalization, one channel fold.
    QuerySpec("q355_time_decay", (s, dir) => {
      import graft.operators.Funnel
      Funnel.attributeTimeDecay(events(s, dir), "user_id",
        "event_type", "ts", "event_id", "purchase",
        halfLifeNs = 21600000000000L)
    },
      raw"""WITH r AS (SELECT user_id AS u, event_type AS et,
         |    epoch_ns(ts) AS ts, event_id AS tie FROM events),
         |cv AS (SELECT u, ts AS cts, tie AS ctie FROM (
         |    SELECT u, ts, tie, row_number() OVER (PARTITION BY u
         |      ORDER BY ts, tie) AS rn
         |    FROM r WHERE et = 'purchase') WHERE rn = 1),
         |tc AS (SELECT r.u, r.et AS channel,
         |    (cv.cts - r.ts) // 21600000000000 AS e
         |  FROM r JOIN cv ON cv.u = r.u
         |    AND (r.ts < cv.cts OR (r.ts = cv.cts
         |      AND r.tie < cv.ctie))
         |  WHERE r.et <> 'purchase'),
         |sc AS (SELECT u, channel,
         |    e - min(e) OVER (PARTITION BY u) AS s
         |  FROM tc),
         |wt AS (SELECT u, channel,
         |    CASE WHEN s >= 63 THEN 0
         |      ELSE 1::BIGINT << CAST(62 - s AS INTEGER) END AS w
         |  FROM sc),
         |nm AS (SELECT u, channel, w,
         |    sum(CAST(w AS HUGEINT)) OVER (PARTITION BY u) AS ws
         |  FROM wt)
         |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
         |  CAST(sum(CAST((1000000::HUGEINT * w) // ws AS BIGINT))
         |    AS BIGINT) AS credit_ppm
         |FROM nm GROUP BY channel""".stripMargin),

    // GROWTH ACCOUNTING by day: new/retained/resurrected/churned
    // user decomposition with the quick ratio; churn lands in the
    // period the loss shows up, the final day counts none.
    // q356: growth accounting -- distinct daily presence, one
    // lag/lead walk per user, churn shifted one period, full outer
    // so a zero-active churn day survives.
    QuerySpec("q356_growth", (s, dir) => {
      import graft.operators.Funnel
      Funnel.growthAccounting(events(s, dir), "user_id", "ts",
        periodNs = 86400000000000L)
    },
      raw"""WITH pr AS (SELECT DISTINCT user_id AS u,
         |    epoch_ns(ts) // 86400000000000 AS p FROM events),
         |mk AS (SELECT u, CAST(p AS BIGINT) AS p,
         |    lag(p) OVER (PARTITION BY u ORDER BY p) AS prev,
         |    lead(p) OVER (PARTITION BY u ORDER BY p) AS nxt
         |  FROM pr),
         |mx AS (SELECT CAST(max(p) AS BIGINT) AS maxp FROM mk),
         |ac AS (SELECT p AS period,
         |    CAST(count(*) AS BIGINT) AS n_active,
         |    CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_new,
         |    CAST(sum(CASE WHEN prev = p - 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_retained,
         |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev < p - 1
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
         |  FROM mk GROUP BY 1),
         |ch AS (SELECT p + 1 AS cp,
         |    CAST(count(*) AS BIGINT) AS n_churned
         |  FROM mk CROSS JOIN mx
         |  WHERE (nxt IS NULL OR nxt <> p + 1) AND p < mx.maxp
         |  GROUP BY 1)
         |SELECT CAST(COALESCE(ac.period, ch.cp) AS BIGINT)
         |    AS period,
         |  COALESCE(ac.n_active, 0) AS n_active,
         |  COALESCE(ac.n_new, 0) AS n_new,
         |  COALESCE(ac.n_retained, 0) AS n_retained,
         |  COALESCE(ac.n_resurrected, 0) AS n_resurrected,
         |  COALESCE(ch.n_churned, 0) AS n_churned,
         |  CASE WHEN COALESCE(ch.n_churned, 0) <= 0 THEN NULL
         |    ELSE CAST((1000000 * (COALESCE(ac.n_new, 0)
         |      + COALESCE(ac.n_resurrected, 0)))
         |      // ch.n_churned AS BIGINT) END AS quick_ratio_ppm
         |FROM ac FULL OUTER JOIN ch ON ch.cp = ac.period""".stripMargin)
  )
}
