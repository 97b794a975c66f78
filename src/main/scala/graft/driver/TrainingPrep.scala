package graft.driver

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TextOps
import graft.plans.PlanMetrics

/** Worked composition: the LLM training-data prep chain a user runs over a
  * raw document corpus — the "switch from the reference and keep going"
  * story, assembled from the library's own operators. Stages:
  *
  *  1. quality gate: minimum word count + stopword-ratio floor (the
  *     `text_stats` heuristics as a filter);
  *  2. exact dedup: sha256 content hash, keep the minimum id per hash
  *     (32 B crosses the shuffle, never the body);
  *  3. near-dup removal: MinHash-LSH candidate pairs VERIFIED in-bucket
  *     ([[TextOps.verifiedCandidatePairs]] — a band collision alone never
  *     drops a document; signature agreement ≥ 8/16 ≈ Jaccard ≥ 0.5 must
  *     confirm it, VERDICT r06 finding 1)
  *     → connected components ([[graft.operators.Components]]) → keep only
  *     each cluster's canonical (minimum-id) member. Pair-based "drop the
  *     higher id of each pair" keeps LOCAL minima: in an a–b–c chain where
  *     the middle doc is smallest, a doc with no smaller direct neighbor
  *     survives despite being transitively a near-dup of a smaller doc —
  *     the closure gives keep-exactly-one-per-group semantics;
  *  4. stamp features: token count, language id, content fingerprint.
  *
  * Every stage is the scale shape the individual queries pin: hash-keyed
  * shuffles only, candidates from band buckets (never all-pairs), narrow
  * stamping. `useXx` swaps the portable oracle hash for `xxhash64` in
  * production (see PERF.md on the md5 tax). */
object TrainingPrep {

  /** Stage-1 quality gate alone — shared by [[prepare]] and the
    * standing-artifact probe (`training_prep_probe`), which must apply
    * the SAME gate before its drop-set anti-join (the drop set was
    * derived over the gated corpus). */
  def qualityGate(docs: DataFrame, textCol: String = "text",
      minWords: Int = 5, minStopRatio: Double = 0.0): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val en = TextOps.stopwords.head._2
    val stopRatio =
      size(filter(toks, w => w.isin(en.map(lit(_)): _*))).cast("double") / size(toks)
    docs
      .filter(size(toks) >= minWords)
      .filter(if (minStopRatio > 0) stopRatio >= minStopRatio else lit(true))
  }

  /** The drop-id union of stages 2–3 (exact-dup non-keepers ∪ near-dup
    * cluster non-canonicals) over the quality-gated corpus — the
    * corpus-LABELING half of the chain, exposed so a standing artifact
    * (`training_prep_probe`'s BuildOnce drop set) can land it once;
    * every later training-set derivation then pays one anti-join + the
    * narrow stamps instead of re-running the signature/banding/
    * connected-components jobs (the same build-once/probe-many split as
    * `dedup_hash` → `dedup_hash_probe` and `corpus_dedup` →
    * `corpus_dedup_probe`). One `idCol` column. */
  def dropSet(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      minWords: Int = 5, minStopRatio: Double = 0.0,
      useXx: Boolean = false): DataFrame =
    stages(docs, idCol, textCol, minWords, minStopRatio, useXx)._2

  def prepare(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      minWords: Int = 5, minStopRatio: Double = 0.0,
      useXx: Boolean = false): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val (hashed, allDrops) =
      stages(docs, idCol, textCol, minWords, minStopRatio, useXx)

    // 4. feature stamps (lang_pred, not lang: never silently replace a
    // source-provided label column) — computed BEFORE the final
    // anti-join (round 18, the training_prep_probe lesson): stamps are
    // per-row maps, so stamping ~dup-rate more docs than survive is
    // noise, while stamping after the join forces the TEXT column
    // through the join for any consumer that only reads the stamps
    // (the catalog row reads 4 columns; with the stamps upstream,
    // column pruning ships ~30 B rows through the anti-join's exchange
    // instead of the document payload). Output rows and columns are
    // identical either way.
    val stamped = hashed
      .withColumn("n_tokens", size(toks))
      .withColumn("lang_pred", TextOps.langId(toks))
      .withColumn("fingerprint", TextOps.fingerprint(toks))
      .drop("content_hash")
    stamped.join(allDrops.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** Stages 1–3 shared by [[prepare]] and [[dropSet]]: returns the
    * hashed quality-gated corpus and the union drop-id frame. */
  private def stages(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int, minStopRatio: Double,
      useXx: Boolean): (DataFrame, DataFrame) = {
    // 1. quality gate
    val quality = qualityGate(docs, textCol, minWords, minStopRatio)

    // 2. exact dedup: keep the min id per content hash — via the
    // dup-rate-sized DROP set (the dedup_hash shape, VERDICT r11 #7):
    // the old keeper-set semi join sort-merged FULL-WIDTH rows against a
    // corpus-sized id set and was the stage behind training_prep's
    // 4.4 GB sf100 spill. Only (hash, id) pairs ever shuffle; the
    // dup-hash set broadcasts; the anti join broadcasts. The round-robin
    // repartition is the post-filter STAGE BOUNDARY without which AQE
    // cannot measure the dup-rate-sized frame and the join-back compiles
    // as an in-stage sort-merge that sorts the corpus-sized pair side
    // (the dedup_hash fourth-decade lesson — see LlmOps.dedupHash).
    val hashed = quality.withColumn("content_hash", sha2(col(textCol), 256))
    val narrowPairs = hashed.select(col("content_hash"), col(idCol))
    val dupHashes = narrowPairs.groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("_keep"), count(lit(1)).as("_n"))
      .filter(col("_n") > 1).drop("_n")
      .repartition(hashed.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt)
    // the dup-rate-sized drop set is MATERIALIZED (the r15 sf1000 job
    // attribution: `exactDeduped` is consumed by two separate actions —
    // the near-dup pipeline's internal checkpoint and the final stamped
    // plan — and un-checkpointed, the 50 M-key dedup aggregate ran once
    // per action). Only bare ids persist, never the corpus; the blocks
    // live as long as the returned frame (same contract as the
    // clustering labels below).
    val sc = docs.sparkSession.sparkContext
    def landed(desc: String, df: DataFrame): DataFrame =
      PlanMetrics.withJobDescription(sc, desc)(df.localCheckpoint())
    val exactDrops = landed("tp:exactDrops",
      narrowPairs.join(dupHashes, "content_hash")
        .filter(col(idCol) =!= col("_keep")).select(col(idCol)))
    // anti joins ship bare ids on the build side and NEVER sort the
    // document side: the drop set is corpus-proportional (no static
    // broadcast — VERDICT r07 finding 2), and an unhinted shuffled plan
    // degrades to a sort-merge anti that externally sorts the full-text
    // rows — the family's recurring sort-width-is-payload anti-pattern,
    // 2 × ~20 GB of the flagship row's 65 GB final-plan spill at sf1000.
    // SHUFFLE_HASH builds the id-set map per partition instead.
    val exactDeduped = hashed.join(
      exactDrops.hint("shuffle_hash"), Seq(idCol), "left_anti")

    // 3. near-dup removal: verified LSH candidates → clusters → canonical keep
    val pairs = TextOps.verifiedCandidatePairs(exactDeduped, idCol, textCol, useXx)
    val clusters = graft.operators.Components
      .connectedComponents(pairs, "doc_a", "doc_b")
    val dropIds = clusters.filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    // ONE anti join over the corpus for both drop families (exact ∪
    // near): set algebra (hashed ∖ A) ∖ B = hashed ∖ (A ∪ B) — the near
    // pipeline still GENERATES pairs from the exact-deduped view above,
    // but the wide rows only cross one probe on the way out
    (hashed, exactDrops.union(dropIds))
  }
}
