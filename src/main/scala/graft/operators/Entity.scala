package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Blocked fuzzy entity resolution — match dirty records to a clean
  * reference by edit distance, but only WITHIN blocking-key groups so
  * the quadratic all-pairs comparison never materializes. The
  * reference's mapping module joins on exact normalized keys
  * (/root/reference/metrics/lib/hh_mapping.py:34-44); this is the
  * fuzzy generalization a real ingest needs when keys arrive typo'd.
  */
object Entity {

  /** Corpus-derived blocking length — the same contract as
    * [[Linkage.blockCharsFor]] and [[VectorSearch.srpParamsFor]]: the
    * block domain is 10^len (digit-like name tails), so expected
    * block size is n / 10^len; len is the smallest keeping that ≤
    * `targetBlock`, clamped to [4, 8] — 4 preserves the small-corpus
    * behavior, 8 keeps the key inside the digit tail that the typo
    * edits this matcher targets leave intact. Pinned at 1e6→5,
    * 1e8→7, 1e10→8 by LinkageSpec; the q_entity_match oracle replays
    * the same formula in SQL off count(*) of the clean side. */
  def blockLenFor(n: Long, targetBlock: Int = 64): Int = {
    require(n > 0, "blockLenFor needs a positive corpus count")
    val raw = math.ceil(math.log10(n.toDouble / targetBlock)).toInt
    math.min(8, math.max(4, raw))
  }

  /** Match each `dirty` record to its best `clean` candidate.
    *
    * Blocking key = the last `blockLen` characters of the name: the
    * join is an ordinary equi-join on (blk), never a cross product,
    * and the per-dirty-record candidate list is one block's worth.
    * Best candidate = lowest levenshtein distance (ties to the lowest
    * clean id — deterministic); candidates farther than `maxDist`
    * (and dirty records whose block holds no candidate at all) come
    * back with NULL clean_id — a blocking MISS is the documented
    * recall tradeoff of any blocked matcher, visible in the output
    * rather than silently dropped.
    *
    * Shape for 100 TB: both sides shuffle once on the block key
    * (hash-uniform when the key tail is digit-like); the best-match
    * window partitions by dirty_id, whose candidate lists are
    * block-sized. levenshtein is a codegen'd builtin on both engine
    * and oracle (identical integer semantics). A pathological block
    * (every name ending alike) would make per-block products square —
    * cap or widen blockLen there, same regime call as the jaccard
    * df cap; derive blockLen from the corpus via [[blockLenFor]] so
    * a growing corpus widens the key instead of growing the blocks. */
  def resolve(dirty: DataFrame, clean: DataFrame, idCol: String,
              nameCol: String, blockLen: Int, maxDist: Int): DataFrame = {
    val d = dirty.select(
      col(idCol).as("dirty_id"), col(nameCol).as("dirty_name"),
      expr(s"right($nameCol, $blockLen)").as("blk"))
    val c = clean.select(
      col(idCol).as("clean_id"), col(nameCol).as("clean_name"),
      expr(s"right($nameCol, $blockLen)").as("blk"))
    // threshold levenshtein: banded DP with early exit, -1 above the
    // bound. Exact within the bound, so ok-candidates rank and report
    // identically; among not-ok candidates the rn=1 winner may differ
    // from an unbounded engine, but every not-ok row projects to the
    // same (dirty_id, dirty_name, NULL, NULL), so the output — and
    // the oracle hash — cannot change.
    val j = d.join(c, Seq("blk"), "left_outer")
      .withColumn("dist",
        levenshtein(col("dirty_name"), col("clean_name"), maxDist))
      .withColumn("ok", col("dist") >= 0)
    val w = Window.partitionBy(col("dirty_id")).orderBy(
      when(col("ok"), 0).otherwise(1), col("dist"), col("clean_id"))
    j.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("dirty_id"), col("dirty_name"),
        when(col("ok"), col("clean_id")).as("clean_id"),
        when(col("ok"), col("dist")).as("dist"))
      .orderBy(col("dirty_id"))
  }

  /** Multi-key identity components: records sharing ANY of several
    * identifier keys collapse transitively into one entity — the
    * identity-graph step beyond [[resolve]]'s one-shot fuzzy match
    * (A shares key-1 with B, B shares key-2 with C ⇒ A, B, C are one
    * entity even though A and C share nothing directly). The
    * households/device-graph primitive every cross-channel
    * measurement system needs.
    *
    * Scale shape: edges are STAR edges — each record links to the
    * MINIMUM record id of each (key kind, key value) group — so edge
    * volume is LINEAR in records however hot a shared key is, where
    * the all-pairs form is quadratic per key group (one viral email
    * address = one m² blowup). Connected components over star edges
    * are identical to components over the full pair graph (every
    * member reaches every other through the hub). CC itself is
    * [[NearDup.dedupClusters]]' iterative min-label machinery — one
    * single-stage job per round over held half-edges, fail-loud past
    * maxIter.
    *
    * `keys` are (kind, expression) pairs; NULL key values never link
    * (an absent identifier is not a shared identifier). */
  def linkByKeys(records: DataFrame, idCol: String,
                 keys: Seq[(String, org.apache.spark.sql.Column)],
                 maxIter: Int = 20): DataFrame = {
    require(keys.nonEmpty, "linkByKeys needs at least one key")
    val ids = records.select(col(idCol).cast("long").as("doc_id"))
    val keyed = keys.map { case (kind, kexpr) =>
      records.select(col(idCol).cast("long").as("id"),
          kexpr.cast("string").as("kv"))
        .where(col("kv").isNotNull)
        .select(col("id"),
          concat_ws(":", lit(kind), col("kv")).as("k"))
    }.reduce(_.unionAll(_))
      .transform(graft.Caches.hold)
    val hubs = keyed.groupBy(col("k")).agg(min(col("id")).as("d1"))
    val star = keyed.join(hubs, "k")
      .where(col("id") =!= col("d1"))
      .select(col("d1"), col("id").as("d2"))
      .distinct()
    NearDup.dedupClusters(ids, star, maxIter)
      .select(col("doc_id").as("record_id"), col("rep_id").as("entity_id"),
        col("cluster_size").as("entity_size"))
      .orderBy(col("record_id"))
  }
}
