package graft
package keys

import org.apache.spark.sql.functions._
import graft.operators._

/** Co-purchase graph keys ([[graft.operators.Affinity]]): item
  * similarity, pageRank, triangles, wedges and the k-core peel. */
object GraphKeys extends Family {
  /** q_item_similarity: neighbors kept per item. */
  private val ItemSimTopN = 5

  /** q_pagerank: damped value-iteration rounds (unrolled verbatim in
    * the oracle CTE chain) and report size. */
  private val PageRankIters = 3
  private val PageRankTopN = 100

  /** q_triangles: co-purchase min-support — the noise floor AND the
    * density control (support-1 basket graphs are near-complete;
    * support 2 is non-degenerate at every SF: 3258/61/1 triangles at
    * sf0.001/0.01/0.1). */
  private val TriangleMinSupport = 2

  /** q_k_core oracle: the same min-support edge CTE as q_triangles,
    * the derived-k rule (max(2, ⌈edges/nodes⌉), integer ceil-div —
    * [[graft.operators.Affinity.kCoreKFor]]), and the peel unrolled
    * to exactly [[graft.operators.Affinity.KCoreMaxPeels]] CTE steps
    * — the engine's depth cap replayed structurally (PureProps pins
    * the final step index), with idempotence making post-convergence
    * steps no-ops. Each step drops edges with an endpoint whose
    * degree in the PREVIOUS step's set is under k (simultaneous
    * removal, matching the engine's round semantics). */
  private lazy val kCoreOracleSql: String = {
    val depth = graft.operators.Affinity.KCoreMaxPeels
    // AS MATERIALIZED is load-bearing: each step references its
    // predecessor five times, and an inlining planner would expand
    // the 24-step chain to 5^24 parquet scans
    val steps = (1 to depth).map { i =>
      s"""p$i AS MATERIALIZED (SELECT pa, pb FROM p${i - 1}
          WHERE pa IN (SELECT node FROM (SELECT pa AS node FROM p${i - 1}
              UNION ALL SELECT pb FROM p${i - 1}) t
            GROUP BY node HAVING count(*) >= (SELECT k FROM kk))
          AND pb IN (SELECT node FROM (SELECT pa AS node FROM p${i - 1}
              UNION ALL SELECT pb FROM p${i - 1}) t
            GROUP BY node HAVING count(*) >= (SELECT k FROM kk)))"""
    }.mkString(",\n          ")
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS okey,
            l_partkey AS part FROM lineitem),
          p0 AS MATERIALIZED (SELECT a.part AS pa, b.part AS pb
            FROM op a JOIN op b ON a.okey = b.okey AND a.part < b.part
            GROUP BY 1, 2 HAVING count(*) >= $TriangleMinSupport),
          kk AS MATERIALIZED (SELECT CASE WHEN count(DISTINCT node) = 0 THEN 2
              ELSE greatest(2, (count(*) // 2 + count(DISTINCT node) - 1)
                // count(DISTINCT node)) END AS k
            FROM (SELECT pa AS node FROM p0 UNION ALL SELECT pb FROM p0) t),
          $steps
          SELECT part, CAST(count(*) AS BIGINT) AS core_deg,
            (SELECT CAST(k AS INTEGER) FROM kk) AS k
          FROM (SELECT pa AS part FROM p$depth
            UNION ALL SELECT pb FROM p$depth) t
          GROUP BY 1 ORDER BY part"""
  }

  /** q_wedge_recs: per-vertex neighbor cap (hub fan-out ≤ cap², the
    * LSH-bucket discipline), report size, and the edge BUDGET the
    * corpus-derived support level is solved against
    * ([[graft.operators.Affinity.wedgeSupportFor]]): wedge candidate
    * volume is bounded by 2·budget·cap² regardless of corpus density.
    * 100k edges × cap 64 ⇒ ≤ ~3·10⁸ candidate wedge pairs worst
    * case, seconds of in-task explode work at any SF; non-binding at
    * gate scale (support-2 edges ≈ 3.6k at sf0.1), binding exactly
    * when density would otherwise compound. */
  private[graft] val WedgeNeighborCap = 64
  private val WedgeTopN = 100
  private[graft] val WedgeEdgeBudget = 100000L

  /** The q_pagerank oracle's unrolled value-iteration rounds: one
    * (contribution, rank) CTE pair per round over the shared
    * e/deg/nodes frames. */
  private val PageRankIterCtes: String = (1 to PageRankIters).map(i =>
    s"""c$i AS (SELECT e.dst AS node,
            CAST(sum(((r.rank_micro * 17) // 20) // d.deg) AS BIGINT)
              AS inflow
            FROM e JOIN r${i - 1} r ON r.node = e.src
            JOIN deg d ON d.src = e.src GROUP BY 1),
          r$i AS (SELECT n.node,
            CAST(150000 + coalesce(c.inflow, 0) AS BIGINT) AS rank_micro
            FROM nodes n LEFT JOIN c$i c USING (node))""")
    .mkString(",\n          ")

  val keys: Seq[Key] = Seq(
    // endpoint-degree correlation of the co-purchase graph
    key("q_assortativity", (s, d) =>
      Affinity.degreeAssortativity(Tables.lineitem(s, d),
        TriangleMinSupport))(
      // The q_triangles support-filtered edge CTE; endpoint degrees join
      // back on, five HUGEINT moments, Newman r off exact integers.
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS okey,
            l_partkey AS part FROM lineitem),
          pr AS (SELECT a.part AS pa, b.part AS pb
            FROM op a JOIN op b ON a.okey = b.okey AND a.part < b.part
            GROUP BY 1, 2 HAVING count(*) >= $TriangleMinSupport),
          e AS (SELECT pa AS src, pb AS dst FROM pr
            UNION ALL SELECT pb, pa FROM pr),
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM e GROUP BY 1),
          dd AS (SELECT CAST(d1.deg AS HUGEINT) AS x,
              CAST(d2.deg AS HUGEINT) AS y
            FROM e JOIN deg d1 ON e.src = d1.src
            JOIN deg d2 ON e.dst = d2.src),
          m AS (SELECT CAST(count(*) AS HUGEINT) AS m2,
            sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
            sum(x * x) AS sxx, sum(y * y) AS syy FROM dd),
          n AS (SELECT count(*) AS n_nodes FROM deg)
          SELECT CAST(n.n_nodes AS BIGINT) AS n_nodes,
            CAST(m.m2 // 2 AS BIGINT) AS n_edges,
            CAST(m.m2 * m.sxy - m.sx * m.sy AS DOUBLE) /
              nullif(sqrt(CAST(m.m2 * m.sxx - m.sx * m.sx AS DOUBLE) *
                CAST(m.m2 * m.syy - m.sy * m.sy AS DOUBLE)), 0.0)
              AS assortativity
          FROM m CROSS JOIN n"""),
    key("q_item_similarity", (s, d) =>
      Affinity.itemSimilarity(Tables.lineitem(s, d), ItemSimTopN))(
      // cos = cooc/sqrt(n_a·n_b): every input an exact integer, every
      // IEEE step correctly rounded -> bit-identical across engines. The
      // row_number tie order (cos DESC, other) is graft_topk's exact
      // (score desc, id asc) heap order.
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS okey,
            l_partkey AS part FROM lineitem),
          cnt AS (SELECT part, CAST(count(*) AS BIGINT) AS cnt
            FROM op GROUP BY 1),
          pr AS (SELECT a.part AS pa, b.part AS pb,
            CAST(count(*) AS BIGINT) AS cooc
            FROM op a JOIN op b ON a.okey = b.okey AND a.part < b.part
            GROUP BY 1, 2),
          sym AS (SELECT pa AS part, pb AS other, cooc FROM pr
            UNION ALL SELECT pb, pa, cooc FROM pr),
          sc AS (SELECT s.part, s.other, s.cooc,
            ca.cnt AS n_a, cb.cnt AS n_b,
            CAST(s.cooc AS DOUBLE) / sqrt(CAST(ca.cnt AS DOUBLE) * cb.cnt)
              AS cos_sim
            FROM sym s JOIN cnt ca ON ca.part = s.part
              JOIN cnt cb ON cb.part = s.other),
          rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY part
              ORDER BY cos_sim DESC, other) AS INT) AS rk FROM sc)
          SELECT part, other, cooc, n_a, n_b, cos_sim, rk FROM rk
          WHERE rk <= $ItemSimTopN ORDER BY part, rk"""),
    key("q_pagerank", (s, d) =>
      Affinity.pageRank(Tables.lineitem(s, d), PageRankIters, PageRankTopN))(
      // The value iteration unrolled: one (contribution, rank) CTE pair
      // per round, all-integer arithmetic — truncating div replaces
      // float rounding, so sums are order-independent and the chain
      // replays bit-for-bit.
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS okey,
            l_partkey AS part FROM lineitem),
          pr AS (SELECT DISTINCT a.part AS pa, b.part AS pb
            FROM op a JOIN op b ON a.okey = b.okey AND a.part < b.part),
          e AS (SELECT pa AS src, pb AS dst FROM pr
            UNION ALL SELECT pb, pa FROM pr),
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM e GROUP BY 1),
          nodes AS (SELECT DISTINCT src AS node FROM e),
          r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro
            FROM nodes),
          $PageRankIterCtes
          SELECT node AS part, rank_micro FROM r$PageRankIters
          ORDER BY rank_micro DESC, part LIMIT $PageRankTopN"""),
    key("q_triangles", (s, d) =>
      Affinity.triangleStats(Tables.lineitem(s, d), TriangleMinSupport))(
      // The NAIVE a<b<c triangle join — the engine's degree-ordered
      // orientation changes the plan, never the count, so equality here
      // proves the orientation exact.
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS okey,
            l_partkey AS part FROM lineitem),
          pr AS (SELECT a.part AS pa, b.part AS pb
            FROM op a JOIN op b ON a.okey = b.okey AND a.part < b.part
            GROUP BY 1, 2 HAVING count(*) >= $TriangleMinSupport),
          e AS (SELECT pa AS src, pb AS dst FROM pr
            UNION ALL SELECT pb, pa FROM pr),
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM e GROUP BY 1),
          tr AS (SELECT count(*) AS t FROM pr p1
            JOIN pr p2 ON p2.pa = p1.pa AND p2.pb > p1.pb
            JOIN pr p3 ON p3.pa = p1.pb AND p3.pb = p2.pb),
          sz AS (SELECT count(*) AS n_nodes,
            CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
            CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
            FROM deg)
          SELECT sz.n_nodes, sz.n_edges, sz.n_wedges,
            tr.t AS n_triangles,
            CAST(tr.t * 3 AS DOUBLE) / nullif(sz.n_wedges, 0)
              AS transitivity
          FROM sz CROSS JOIN tr"""),
    // k derived from the support graph's own density; peel depth
    // capped at KCoreMaxPeels on BOTH sides (unrolled in the oracle)
    key("q_k_core", (s, d) =>
      Affinity.kCore(Tables.lineitem(s, d), TriangleMinSupport))(
      kCoreOracleSql),
    key("q_wedge_recs", (s, d) =>
      Affinity.wedgeRecommendations(Tables.lineitem(s, d),
        TriangleMinSupport, WedgeNeighborCap, WedgeTopN,
        WedgeEdgeBudget))(
      // Capped sorted neighbor prefixes + in-task wedge pairs (the
      // simhash-bucket idiom) — the cap is replayed, so a binding cap
      // is a gate event. The SUPPORT level is corpus-derived (smallest
      // s ≥ floor whose edge set fits the budget, off the pair
      // multiplicity histogram — wedgeSupportFor's exact rule) and
      // emitted as min_support, so the derivation itself is
      // hash-checked.
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS okey,
            l_partkey AS part FROM lineitem),
          pr0 AS (SELECT a.part AS pa, b.part AS pb,
            CAST(count(*) AS BIGINT) AS cooc
            FROM op a JOIN op b ON a.okey = b.okey AND a.part < b.part
            GROUP BY 1, 2),
          hist AS (SELECT cooc, CAST(count(*) AS BIGINT) AS c
            FROM pr0 GROUP BY 1),
          ge AS (SELECT cooc, sum(c) OVER (ORDER BY cooc DESC) AS g
            FROM hist),
          thr AS (SELECT CAST(greatest($TriangleMinSupport,
              1 + coalesce(max(cooc), 0)) AS BIGINT) AS s
            FROM ge WHERE g > $WedgeEdgeBudget),
          pr AS (SELECT pa, pb FROM pr0, thr WHERE cooc >= thr.s),
          e AS (SELECT pa AS src, pb AS dst FROM pr
            UNION ALL SELECT pb, pa FROM pr),
          nb AS (SELECT src, CAST(count(*) AS BIGINT) AS deg,
            (list_sort(list(dst)))[1:$WedgeNeighborCap] AS ns
            FROM e GROUP BY 1),
          cand AS (SELECT p[1] AS part_u, p[2] AS part_w,
            count(*) AS n_common, CAST(sum(ra) AS BIGINT) AS ra_micro
            FROM
            (SELECT 1000000 // deg AS ra,
              unnest(flatten(list_transform(range(1, len(ns)),
              i -> list_transform(range(i + 1, len(ns) + 1),
                j -> [ns[i], ns[j]])))) AS p
             FROM nb WHERE len(ns) >= 2) GROUP BY 1, 2),
          open_p AS (SELECT c.part_u, c.part_w, c.n_common, c.ra_micro
            FROM cand c
            LEFT JOIN pr ON pr.pa = c.part_u AND pr.pb = c.part_w
            WHERE pr.pa IS NULL)
          SELECT part_u, part_w, n_common, ra_micro,
            (SELECT s FROM thr) AS min_support FROM open_p
          ORDER BY ra_micro DESC, part_u, part_w LIMIT $WedgeTopN"""),
    key("q_graph_stats", (s, d) =>
      Affinity.graphStats(Tables.lineitem(s, d)))(
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS okey,
            l_partkey AS part FROM lineitem),
          pr AS (SELECT DISTINCT a.part AS pa, b.part AS pb
            FROM op a JOIN op b ON a.okey = b.okey AND a.part < b.part),
          e AS (SELECT pa AS src, pb AS dst FROM pr
            UNION ALL SELECT pb, pa FROM pr),
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM e GROUP BY 1),
          t AS (SELECT count(*) AS n_nodes_total FROM deg)
          SELECT length(CAST(deg AS VARCHAR)) AS deg_digits,
            count(*) AS n_nodes, min(deg) AS deg_min,
            max(deg) AS deg_max, CAST(sum(deg) AS BIGINT) AS sum_deg,
            CAST(count(*) AS DOUBLE) / t.n_nodes_total AS node_frac
          FROM deg CROSS JOIN t GROUP BY 1, t.n_nodes_total
          ORDER BY 1""")
  )
}
