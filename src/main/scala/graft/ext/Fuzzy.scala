package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Fuzzy (approximate-key) join — the record-linkage / entity-resolution
  * primitive: match rows of two tables whose STRING keys are similar but
  * not equal (typos, re-encodings, source-specific formatting), via
  * character n-gram jaccard.
  *
  * Candidate generation is an inverted-index equi-join on distinct char
  * n-grams (never a cartesian compare), then exact jaccard verification:
  * the same two-phase shape as [[Dedup.jaccardPairs]], across two frames
  * and at character granularity (word shingles are useless on
  * single-token keys like ids and names).
  *
  * Stop-gram pruning (`maxGramFreq`) is PART OF THE SEMANTICS, not a
  * best-effort heuristic: id-style keys share constant prefixes
  * ("Customer#0000...") whose grams pair everything with everything —
  * quadratic — and carry zero matching signal. Grams whose combined
  * occurrence count exceeds the cap are excluded from the GRAM SPACE
  * entirely: candidate generation, intersection counts, AND the per-key
  * sizes all live in the surviving (discriminative) grams, so jaccard
  * measures similarity over the grams that distinguish keys — the
  * spirit of IDF-weighted matching, as one deterministic,
  * engine-independent rule an oracle can mirror. (Counting pruned grams
  * in sizes but not intersections would crush every score toward 0 —
  * the failure mode this definition avoids.) Keys whose grams are ALL
  * pruned have no discriminative content and match nothing.
  */
object Fuzzy {

  /** Distinct character n-grams of lower(trim(key)); keys shorter than
    * `n` contribute themselves as a single gram (still matchable).
    */
  def charGrams(key: Column, n: Int): Column = {
    val s = lower(trim(key))
    when(length(s) >= n,
      array_distinct(transform(
        sequence(lit(1), length(s) - lit(n - 1)),
        i => s.substr(i, lit(n)))))
      .otherwise(array(s))
  }

  /** One row per (id_l, id_r) pair with jaccard >= threshold:
    * (id_l, id_r, n_common, n_l, n_r, jaccard) — all counts over the
    * post-pruning gram space (see object doc).
    */
  /** @param maxGramShare drop grams appearing in more than this fraction
    *        of all keys (0 = off). A RELATIVE cap behaves uniformly at
    *        every data scale — an absolute count sits in a different
    *        regime at each SF (a boundary gram below the cap at one
    *        scale and above it at 10x silently flips which pairs match).
    *        The key totals are two counts collected up front (the
    *        budget-guard precedent); df <= share·total compares
    *        identically on any IEEE engine.
    */
  def fuzzyJoin(
      left: DataFrame,
      leftId: String,
      leftKey: String,
      right: DataFrame,
      rightId: String,
      rightKey: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxGramFreq: Long = 0L,
      maxGramShare: Double = 0.0,
      maxCandidatePairs: Long = 200000000L): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    require(maxGramShare >= 0 && maxGramShare <= 1,
      s"maxGramShare in [0,1], got $maxGramShare")
    // exploded grams are a narrow projection — cheap to recompute, so no
    // eager materialization; the multiply-consumed DERIVED frames below
    // (freq, pruned sides, prefixes) cache lazily instead. x104 profiling
    // showed the operator overhead-bound: five eager localCheckpoint jobs
    // cost more than the data path at every tested SF.
    //
    // Cache lifecycle: every cache is BORROWED for this call only. The
    // final (post-threshold, small) pair set is materialized eagerly —
    // localCheckpoint truncates the lineage, so the returned frame
    // references none of the caches — and the `finally` unpersists them
    // all, success or failure. A long-lived session (orchestrator, bench,
    // notebook) calling this repeatedly accumulates NO CacheManager
    // entries and loses no execution memory to leaked storage.
    val borrowed = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // sameResult dedup: in a self-join-shaped call (left == right) the two
    // sides' plans differ only in output aliases, which canonicalization
    // erases — caching the second would hit the CacheManager's "already
    // cached" path (a warning + a redundant entry). Skipping it is free:
    // the skipped frame's execution still reads the first cache via the
    // CacheManager's sameResult plan replacement.
    def borrow(df: DataFrame): DataFrame = {
      val plan = df.queryExecution.analyzed
      if (!borrowed.exists(_.queryExecution.analyzed.sameResult(plan))) {
        borrowed += df
        df.cache()
      }
      df
    }

    try {
    val l0 = left.select(col(leftId).as("id_l"),
      explode(charGrams(col(leftKey), n)).as("g"))
    val r0 = right.select(col(rightId).as("id_r"),
      explode(charGrams(col(rightKey), n)).as("g"))
    val shareCap: Option[Double] =
      if (maxGramShare <= 0) None
      else Some(maxGramShare * left.select(lit(1).as("one"))
        .unionAll(right.select(lit(1).as("one"))).count().toDouble)
    val cap: Option[Column] = (maxGramFreq, shareCap) match {
      case (f, Some(s)) if f > 0 => Some(least(lit(f.toDouble), lit(s)))
      case (f, None) if f > 0 => Some(lit(f.toDouble))
      case (_, Some(s)) => Some(lit(s))
      case _ => None
    }
    // one combined-count freq frame serves the stop-gram prune AND the
    // prefix-filter global order below
    val freq = borrow(l0.select(col("g")).unionAll(r0.select(col("g")))
      .groupBy(col("g")).agg(count(lit(1)).as("df_g")))
    // r22: lp/rp are no longer cached — with the gram set carried on the
    // prefix rows (below), each pruned side has exactly ONE consumer
    // (its prefix window pass), so the caches bought nothing but two
    // fill passes.
    val (lp, rp) = cap match {
      case None => (l0, r0)
      case Some(c) =>
        // combined-count rule: one freq frame over both sides, so the
        // prune is symmetric and engine-independent
        val keep = freq.where(col("df_g").cast(DoubleType) <= c).select(col("g"))
        (l0.join(broadcast(keep), "g"),
          r0.join(broadcast(keep), "g"))
    }
    // sizes in the SAME gram space as the intersections (object doc) —
    // computed INSIDE the prefix window pass (count over the same id
    // partition the ranking sorts), not as separate groupBy+join stages:
    // the freq join is 1:1 on g, so the per-id row count there equals
    // |pruned gram set| exactly.
    // ── PPJoin-style prefix filtering (candidate PRUNING only — the
    // result set is identical with or without it). For jaccard >= t,
    // any qualifying pair needs overlap o >= ceil(t·n) on BOTH sides
    // (min/max >= t forces it), so under one global total order on
    // grams — ascending combined df, then gram — the two keys' prefixes
    // of length n − ceil(t·n) + 1 must intersect (Bayardo et al. 2007;
    // Xiao et al. PPJoin). Templated key spaces (shared "Customer#000"
    // scaffolding) put thousands of keys on each mid-frequency gram;
    // joining only the rarest-prefix grams collapses that candidate
    // blowup from Σ df² toward the true-pair count. The 1e-9 slack
    // lengthens a prefix by at most one gram when t·n sits on an IEEE
    // representation boundary — conservative by construction (a longer
    // prefix only ever ADDS candidates).
    def prefixed(grams: DataFrame, idCol: String, sizeCol: String,
        setCol: String): DataFrame = {
      val wPart = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol))
      val wOrd = wPart.orderBy(col("df_g"), col("g"))
      // one exchange serves all three window functions (same
      // partitioning): the unordered full-partition count IS the key's
      // pruned-gram-set size, the ordered row_number is the prefix rank,
      // and (r22, guide §2.4 "two operations keyed the same way") the
      // full-partition collect_list IS the key's pruned gram set — the
      // verification payload, O(key length) small by the operator's
      // contract (keys are ids/names), carried on the prefix rows so the
      // verification stage needs NO join back to the gram frames.
      // sort_array makes the set's element order canonical: the unordered
      // frame collects in evaluation order, and the final .distinct() must
      // see byte-identical sets on every prefix row of a pair, recomputed
      // partitions included.
      grams.join(broadcast(freq), "g")
        .withColumn(sizeCol, count(lit(1)).over(wPart))
        .withColumn(setCol, sort_array(collect_list(col("g")).over(wPart)))
        .withColumn("__rk", row_number().over(wOrd))
        .where(col("__rk") <=
          col(sizeCol) - ceil(col(sizeCol) * lit(threshold) - lit(1e-9)) + 1)
        .select(col("g"), col(idCol), col(sizeCol), col(setCol))
    }
    val prefL = borrow(prefixed(lp, "id_l", "n_l", "gs_l"))
    val prefR = borrow(prefixed(rp, "id_r", "n_r", "gs_r"))
    if (maxCandidatePairs > 0) {
      // r22: ONE union-tagged aggregate instead of two groupBys + a join
      // (same Σ dl·dr; the old spelling paid 3-4 sequential AQE stages of
      // pure latency on tiny aggregates — guide §1.2 step 1)
      val est = prefL.select(col("g"), lit(1L).as("dl"), lit(0L).as("dr"))
        .unionAll(prefR.select(col("g"), lit(0L).as("dl"), lit(1L).as("dr")))
        .groupBy(col("g"))
        .agg(sum(col("dl")).as("dl"), sum(col("dr")).as("dr"))
        .agg(sum(col("dl").cast(DoubleType) * col("dr").cast(DoubleType)))
        .head().getAs[Any](0) match {
          case null => 0.0
          case d: java.lang.Double => d.doubleValue
        }
      require(est <= maxCandidatePairs.toDouble,
        f"fuzzyJoin would generate ~$est%.3g candidate pairs " +
          f"(budget $maxCandidatePairs); tighten maxGramFreq or raise " +
          "maxCandidatePairs deliberately")
    }
    // length filter (same conservative slack), then distinct pairs.
    // n_l/n_r are functionally dependent on their ids, so carrying them
    // through the distinct changes no cardinality — and eliminates the
    // two post-aggregation size joins.
    // r22 verification shape: the pruned gram SETS ride the prefix rows
    // (computed inside the window pass above — same id partitioning, no
    // new exchange), so exact intersection counts come from ONE
    // array_intersect per surviving candidate. The old shape re-exploded
    // every candidate through two gram joins and a 4-key groupBy —
    // |cand|·|grams per key| intersection rows shuffled per query; this
    // one moves each pair's two O(key-length) arrays through the one
    // distinct exchange and nothing else (guide §2.3/§2.4). Both prefix
    // rows of a pair that meets on several grams carry the identical
    // window-computed array, so the distinct still collapses to one row
    // per pair; gram sets are distinct by construction (charGrams
    // array_distinct survives the 1:1 prune join), so
    // size(array_intersect) ≡ the former count-per-pair bit for bit.
    val cand = prefL.join(prefR, Seq("g"))
      .where(col("n_l").cast(DoubleType) >= lit(threshold) * col("n_r") - lit(1e-9) &&
        col("n_r").cast(DoubleType) >= lit(threshold) * col("n_l") - lit(1e-9))
      .select(col("id_l"), col("id_r"), col("n_l"), col("n_r"),
        col("gs_l"), col("gs_r"))
      .distinct()
    cand
      .withColumn("n_common",
        size(array_intersect(col("gs_l"), col("gs_r"))).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast(DoubleType)
          / (col("n_l") + col("n_r") - col("n_common")).cast(DoubleType))
      .where(col("jaccard") >= lit(threshold))
      .select(col("id_l"), col("id_r"), col("n_common"),
        col("n_l"), col("n_r"), col("jaccard"))
      .localCheckpoint(true)
    } finally borrowed.foreach(_.unpersist(false))
  }
}
