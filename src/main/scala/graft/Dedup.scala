package graft

import graft.functions.Fns
import graft.operators.{ConnectedComponents, ExactSubstr, Lsh}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/**
 * The user-facing façade: what a caller of the reference engine switches
 * to. Input is any DataFrame with (doc_id: Long, text: String) — use
 * `sources.Pages.withDocId` / `run.DedupMain.toDocs` to adapt the
 * canonical pages shape first.
 */
object Dedup {

  /** The loud-cap counters of the all×all body, recorded by DedupMain as
    * metrics rows: pairs the MinHash hot-lane forests skipped as already
    * connected, verified pairs the SimHash forest suppressed, and pairs the
    * substring star cap dropped. */
  private[graft] final case class LoudCaps(minhashLanes: LongAccumulator,
                                           simhash: LongAccumulator,
                                           substr: LongAccumulator)

  /** The all×all three-family body → LAZY (a, b, family) verified pairs.
    *
    * Inputs are per-doc tables: `docs` (doc_id, text), `shingled` (doc_id,
    * shingles), `simhashes` (doc_id, simhash), and the raw band keys —
    * `mhKeys` (doc_id, key), `shKeys` (doc_id, key, simhash). `keysDurable`:
    * the keys are already a durable table, so salting re-scans them instead
    * of caching them. `substrShards` pins the substring shard count (None:
    * sized from the docs' bytes). The listings checkpoint into `scope`.
    *
    * Barrier discipline: the substring family runs on its OWN action
    * thread — its byte census, SA shard scan and gram census do not depend
    * on the banding chains, and as serial driver actions they idled the
    * pool between the banding stages. ONE union count materializes the
    * banded listings meanwhile; its per-family counts gate the broadcast
    * semi-restriction of the verify joins, so the heavy per-doc arrays
    * shuffle only for candidate docs. Job labels are thread-local, so each
    * leg is attributed to its own phase; concurrent first materialization
    * of a shared lazy checkpoint (the facade's `docs`) is block-manager-safe
    * — one task computes a partition, the other waits on the block lock. */
  private[graft] def allPairs(docs: DataFrame, shingled: DataFrame, simhashes: DataFrame,
                              mhKeys: DataFrame, shKeys: DataFrame, keysDurable: Boolean,
                              substrShards: Option[Int], caps: Option[LoudCaps],
                              scope: Scope, cfg: DedupConfig): DataFrame = {
    val subFut = Future {
      scope.phase("graft:listing-substr") {
        val sub = scope.checkpoint(ExactSubstr.substrDupPairs(
          docs, cfg, substrShards, caps.map(_.substr)))
        sub.count()
        sub
      }
    }(ExecutionContext.global)
    val (mhc, mhHotC, shc) = scope.phase("graft:listing-prep") {
      // MinHash listing splits: cold candidates (downstream-verified) + hot
      // lanes resolved IN-TASK by the exact-Jaccard verified forest
      val (mhCands, mhHot) = Lsh.minhashListing(
        Lsh.saltBandKeys(mhKeys.select("doc_id", "key"), cfg, keysDurable),
        shingled, cfg, caps.map(_.minhashLanes))
      // SimHash listing runs the in-task verified-forest cap (join listing
      // when salting is disabled)
      val shCands = Lsh.simhashCandidatePairs(
        Lsh.saltBandKeys(shKeys.select("doc_id", "key", "simhash"), cfg, keysDurable),
        cfg, caps.map(_.simhash))
      (scope.checkpoint(mhCands), scope.checkpoint(mhHot), scope.checkpoint(shCands))
    }
    val famCounts = scope.phase("graft:listings-famcounts-barrier") {
      familyCounts(Seq("mh" -> mhc, "mhv" -> mhHotC, "sh" -> shc))
    }
    val sub = Await.result(subFut, Duration.Inf)
    val (nMh, nSh) = (famCounts.getOrElse("mh", 0L), famCounts.getOrElse("sh", 0L))
    // hot-lane edges are already exact-verified in-task — only the cold
    // candidates go through the verify join
    val mh = verifiedJaccard(mhc, shingled, nMh, cfg).unionByName(mhHotC)
    Lsh.dupPairs(mh, verifiedHamming(shc, simhashes, nSh, cfg), sub)
  }

  /** The new×all body: verified (a, b, family) pairs with ≥1 NEW doc, from
    * the new and old raw band keys (doc_id, key) of each banded family.
    *
    * Both families go through `Lsh.newVsAllListing`: cold buckets list
    * new×all candidates for the verify join, hot buckets come back as
    * census-salted lanes that the exact-verified forests resolve in-task,
    * seeded with the previous cluster assignment `seed` (Lsh.seedUnion).
    * One union count materializes every leg; its counts gate the
    * candidate restriction of the verify joins.
    *
    * `shingles` / `simhashes` fetch a family's payload: given the seeded
    * lanes and the cold candidates (a, b), they return the lanes to join
    * (the same rows) and the payload rows (doc_id, shingles) / (doc_id,
    * simhash) covering the lane members and candidate endpoints; a
    * superset is fine, every consumer is an inner join on doc_id. A fetch
    * that reads the lanes for its ids checkpoints them first, so the lane
    * rows are computed once. `substr` is an optional pre-built lazy
    * substring leg; `suppressed` counts the loud caps. */
  private[graft] def newPairs(mhNew: DataFrame, mhOld: DataFrame,
                              shNew: DataFrame, shOld: DataFrame,
                              seed: Option[DataFrame],
                              shingles: (DataFrame, DataFrame) => (DataFrame, DataFrame),
                              simhashes: (DataFrame, DataFrame) => (DataFrame, DataFrame),
                              substr: Option[DataFrame],
                              suppressed: Option[LongAccumulator],
                              scope: Scope, cfg: DedupConfig): DataFrame = {
    val (mhCold, mhLanes) = Lsh.newVsAllListing(mhNew, mhOld, cfg.saltMaxBucket, suppressed)
    val (shCold, shLanes) = Lsh.newVsAllListing(shNew, shOld, cfg.saltMaxBucket, suppressed)
    val mhc = scope.checkpoint(mhCold.distinct())
    val shc = scope.checkpoint(shCold.distinct())
    // ONE payload fetch per family feeds the lane join AND the verify join
    val (mhLanesS, shTbl) = shingles(Lsh.withLaneSeeds(mhLanes, seed), mhc)
    val (shLanesS, simTbl) = simhashes(Lsh.withLaneSeeds(shLanes, seed), shc)
    val mhLaneV = scope.checkpoint(Lsh.jaccardIncrementalLanePairs(
      mhLanesS.join(shTbl, "doc_id"), cfg.jaccardThreshold, suppressed))
    val shLaneV = scope.checkpoint(Lsh.hammingIncrementalLanePairs(
      shLanesS.join(simTbl, "doc_id"), cfg.hammingThreshold, suppressed))
    val sub = substr.map(scope.checkpoint(_))
    val famCounts = familyCounts(
      Seq("mh" -> mhc, "sh" -> shc, "mhv" -> mhLaneV, "shv" -> shLaneV) ++
        sub.map("sub" -> _))
    val (nMh, nSh) = (famCounts.getOrElse("mh", 0L), famCounts.getOrElse("sh", 0L))
    val mh = verifiedJaccard(mhc, shTbl, nMh, cfg).select("a", "b").unionByName(mhLaneV)
    val sh = verifiedHamming(shc, simTbl, nSh, cfg).select("a", "b").unionByName(shLaneV)
    val spark = mhNew.sparkSession
    import spark.implicits._
    Lsh.dupPairs(mh, sh, sub.getOrElse(Seq.empty[(Long, Long)].toDF("a", "b")))
  }

  /** Exact-Jaccard verify of `nCands` candidate pairs against a per-doc
    * shingle table restricted to the candidates' docs first (count-gated
    * broadcast LeftSemi, `Lsh.restrictToCandidateDocs`): the heavy arrays
    * shuffle only for candidate docs — the normal web regime. */
  private[graft] def verifiedJaccard(cands: DataFrame, shingled: DataFrame,
                                     nCands: Long, cfg: DedupConfig): DataFrame =
    Lsh.verifyJaccard(cands, Lsh.restrictToCandidateDocs(shingled, cands, 2 * nCands), cfg)

  /** The exact-Hamming analog of `verifiedJaccard`. */
  private[graft] def verifiedHamming(cands: DataFrame, simhashes: DataFrame,
                                     nCands: Long, cfg: DedupConfig): DataFrame =
    Lsh.verifyHamming(cands, Lsh.restrictToCandidateDocs(simhashes, cands, 2 * nCands), cfg)

  /** Row count per named table, from ONE union action — the tables'
    * stages overlap across the executor pool instead of serializing. */
  private def familyCounts(tables: Seq[(String, DataFrame)]): Map[String, Long] =
    tables.map { case (fam, df) => df.select(lit(fam).as("fam")) }
      .reduce(_ unionByName _)
      .groupBy("fam").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The facade's feed of the all×all body: the input spread across the
    * pool (Lsh.spreadInput — a single-file scan otherwise runs every
    * fingerprint pass single-task), ONE projection computing both per-doc
    * fingerprints into one cached table, and band keys derived from it.
    * Returns the lazy verified-pair plan; the checkpoints live in `scope`. */
  private[graft] def dupPairsPlan(docs: DataFrame, cfg: DedupConfig, scope: Scope): DataFrame =
    scope.phase("graft:listing-prep") {
      val d = scope.checkpoint(Lsh.spreadInput(docs))
      val fp = scope.checkpoint(d.select(col("doc_id"),
        Fns.shingleHashes(col("text"), cfg).as("shingles"),
        Fns.simhash64(col("text"), cfg).as("simhash")))
      val shingled = fp.select("doc_id", "shingles")
      val simhashes = fp.select("doc_id", "simhash")
      allPairs(d, shingled, simhashes,
        Lsh.minhashBandKeys(Lsh.signatures(shingled, cfg), cfg),
        Lsh.simhashBandKeys(simhashes, cfg, carryHash = true),
        keysDurable = false, substrShards = None, caps = None, scope, cfg)
    }

  /** Family-tagged verified duplicate pairs (a, b, family).
    *
    * EAGER: materializes the (small) pair table, then releases every
    * intermediate block — repeated facade calls in one session (bench
    * loops, notebooks) otherwise pile up executor storage until eviction.
    * The returned checkpoint depends on nothing released here. */
  def dupPairs(docs: DataFrame, cfg: DedupConfig = DedupConfig.test): DataFrame = {
    val scope = new Scope(docs.sparkSession)
    try {
      val pairs = dupPairsPlan(docs, cfg, scope)
      scope.phase("graft:verify-union-ckpt") { Scope.keep(pairs) }
    } finally scope.release()
  }

  /** Cluster table (doc_id, cluster_id, cluster_size, is_canonical) for
    * every doc that has at least one duplicate. */
  def clusters(docs: DataFrame, cfg: DedupConfig = DedupConfig.test): DataFrame =
    ConnectedComponents.clusters(
      ConnectedComponents.assign(dupPairs(docs, cfg).select("a", "b")))

  /** THE dedup operation: the input with non-canonical duplicates removed —
    * every cluster keeps its smallest doc_id; singletons pass through.
    * Anti-join keeps the doc table itself out of the clustering shuffles. */
  def dedupe(docs: DataFrame, cfg: DedupConfig = DedupConfig.test): DataFrame = {
    val drop = clusters(docs, cfg).where(!col("is_canonical")).select("doc_id")
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Quality-aware dedup: every cluster keeps its HIGHEST-`score` member
    * (smallest doc_id on ties — fully deterministic); singletons pass
    * through untouched. This is the policy a training-data pipeline
    * actually wants — "keep the best copy", not "keep the first crawled".
    *
    * Scale shape: the score is evaluated only on CLUSTERED docs (the
    * assignment is a tiny table relative to the corpus), the winner per
    * cluster comes from one partial-aggregating `max(struct(score,
    * -doc_id))` groupBy — no per-cluster window, the same mega-cluster
    * skew rule as `ConnectedComponents.clusters` — and the corpus is
    * touched only by one final anti-join against the loser id list. */
  def dedupeBy(docs: DataFrame, score: org.apache.spark.sql.Column,
               cfg: DedupConfig = DedupConfig.test): DataFrame =
    keepBest(docs, ConnectedComponents.assign(dupPairs(docs, cfg).select("a", "b")), score)

  /** Keep, for every cluster of `assignment`, the member with the highest
    * `score` (smallest doc_id on ties); docs outside any cluster pass
    * through. The winner per cluster comes from one partial-aggregating
    * `max(struct(score, -doc_id))` groupBy — no per-cluster window, the
    * same mega-cluster skew rule as `ConnectedComponents.clusters` — and
    * the corpus is touched only by the final anti-join against the loser
    * id list. (doc_id = Long.MinValue would overflow the tie-break
    * negation; ids here are xxhash64/generator outputs, where MinValue has
    * probability 2^-64.) */
  private[graft] def keepBest(docs: DataFrame, assignment: DataFrame,
                              score: org.apache.spark.sql.Column): DataFrame = {
    val scored = docs.select(col("doc_id"), score.as("q"))
      .join(assignment, "doc_id")
    val winners = scored
      .groupBy("cluster_id")
      .agg(max(struct(col("q"), (-col("doc_id")).as("nd"))).as("w"))
      .select((-col("w.nd")).as("doc_id"))
    val losers = assignment.select("doc_id")
      .join(winners, Seq("doc_id"), "left_anti")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }
}
