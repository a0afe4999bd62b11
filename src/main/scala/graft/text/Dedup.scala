package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Observe

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (the 100 TB posture):
  *   - exact dedup groups by a HASH of the content, never shuffling full
  *     document bodies; only the fingerprint + id move in the exchange.
  *   - near-dup never materializes the O(n²) pair space: MinHash+LSH
  *     bands bound candidate generation to hash-bucket joins, and
  *     n-gram-Jaccard joins on (rare) shared shingles. Bucket sizes are
  *     the skew knob — band count / shingle size tune selectivity.
  */
object Dedup {

  /** Exact dedup: keep the row with the smallest `idCol` per identical
    * `textCol`. Hash-first: the shuffle key is xxhash64(text) (8 bytes),
    * with a residual equality check on text inside each group to guard
    * against hash collisions.
    */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol)), col(textCol)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact-dup group summary keyed by md5 fingerprint (oracle-friendly:
    * DuckDB computes identical md5 hex).
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature: `numHashes` independent min-hashes over the
    * document's distinct `shingleSize`-gram set, computed by the native
    * [[graft.functions.MinHashSig]] expression — one XXH64 pass over each
    * shingle's bytes (seed 42), then `numHashes` cheap
    * `XXH64.hashLong(base, i)` mixes, in a single tight JVM loop. (The
    * HOF formulation this replaced re-evaluated interpreted array
    * expressions per hash function — a measured 30×+ slowdown at bench
    * scale.) Short, un-shingle-able documents yield a NULL signature.
    */
  def minhashSignature(text: Column, numHashes: Int = 32, shingleSize: Int = 5): Column =
    graft.functions.ArrayMath.minhashSigFromHashes(
      graft.functions.ArrayMath.shingleHash64(TextStats.tokens(text), shingleSize),
      numHashes)

  /** The string-shingle formulation [[minhashSignature]] replaced, kept
    * as the executable spec (law test: bit-identical signatures).
    */
  private[text] def minhashSignatureStrings(text: Column, numHashes: Int = 32,
                                            shingleSize: Int = 5): Column =
    graft.functions.ArrayMath.minhashSig(
      array_distinct(TextStats.shingles(text, shingleSize)), numHashes)

  /** LSH banding: hash `bands` equal slices of the signature; documents
    * sharing any band hash are candidate near-duplicates. Returns
    * (id, band_idx, band_hash) — the join key for candidate generation.
    */
  def lshBands(df: DataFrame, idCol: String, textCol: String,
               numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val r = numHashes / bands
    // The repartition is a deliberate materialization barrier: signatures
    // are computed once, shuffled as (id, 8·numHashes bytes), and the
    // identical Exchange on both sides of the candidate self-join is
    // deduplicated by ReuseExchange — without it CollapseProject inlines
    // the signature expression into every band lambda (bands× recompute)
    // and the self-join doubles it again.
    //
    // Un-shingle-able docs (fewer than shingleSize tokens → NULL
    // signature) are dropped by a pre-filter on the CHEAP token count,
    // not on sig.isNotNull: predicate pushdown would rewrite the latter
    // to isnotnull(minhashsig(...)) below the projection — every doc
    // paying the signature twice (observed in the physical plan).
    df.filter(col(textCol).isNotNull &&
        TextStats.tokenCount(col(textCol)) >= lit(shingleSize))
      .select(col(idCol), minhashSignature(col(textCol), numHashes, shingleSize).as("sig"))
      .repartition(col(idCol))
      .select(col(idCol), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * lit(r) + lit(1), lit(r))))).as(Seq("band_idx", "band_hash")))
  }

  /** MinHash+LSH candidate pairs with signature-estimated Jaccard.
    * The self-join runs on (band_idx, band_hash) — each bucket is tiny by
    * construction, so the shuffle is pair-bounded, not n²-bounded.
    */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 5,
                            minEstJaccard: Double = 0.0): DataFrame = {
    val banded = lshBands(df, idCol, textCol, numHashes, bands, shingleSize)
    val a = banded.select(col(idCol).as("id_a"), col("sig").as("sig_a"),
      col("band_idx"), col("band_hash"))
    val b = banded.select(col(idCol).as("id_b"), col("sig").as("sig_b"),
      col("band_idx"), col("band_hash"))
    // distinct BEFORE the estimate: a pair agreeing on k bands appears k
    // times out of the join, and the signature-agreement fold (an
    // interpreted HOF) should run once per unique pair, not per
    // duplicate.
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), p => p))
          .cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Exact n-gram Jaccard pairs: explode distinct shingles, self-join on
    * the shingle, count intersections, derive |union| from per-doc set
    * sizes. Only documents sharing ≥1 shingle ever pair up — with
    * `shingleSize` big enough this is sparse even at corpus scale.
    */
  /** Shared head of the Jaccard variants: one row per (id, |set|,
    * shingle), distinct shingles only. Shingles are carried as their
    * 64-bit hashes (native [[graft.functions.ShingleHash64]] — no
    * shingle string is ever built), so exploded rows and join keys are
    * 8-byte longs instead of n-gram strings: less CPU per row AND less
    * shuffle volume. Downstream only ever tests shingle EQUALITY, for
    * which the hash stands in (collision odds ~d²/2⁶⁵ — see the
    * expression's scaladoc).
    */
  private def explodedShingles(df: DataFrame, idCol: String, textCol: String,
                               shingleSize: Int): DataFrame =
    df.select(col(idCol),
        graft.functions.ArrayMath.shingleHash64(
          TextStats.tokens(col(textCol)), shingleSize).as("sh"))
      .select(col(idCol), size(col("sh")).as("n_sh"), explode(col("sh")).as("shingle"))

  /** Cross-document repeated token spans — SUBSTRING-level dedup
    * discovery (the granularity document-level MinHash can't see): every
    * contiguous `spanTokens`-token span occurring at least `minOccurrences`
    * times in the corpus, with its occurrence and distinct-document
    * counts. The survivors are boilerplate headers, license blocks, and
    * template text — the spans substring-dedup pipelines cut from
    * training corpora (the suffix-array pass of "Deduplicating Training
    * Data Makes Language Models Better", reformulated as a fixed-length
    * rolling window so it distributes).
    *
    * Shape: span generation is a narrow per-row HOF (`transform` over
    * token positions — no joins, no explode-then-slice double pass). The
    * corpus-wide exchange aggregates on `xxhash64(span)` — 8-byte keys,
    * map-side combined — NOT on the materialized span text: the string
    * form shuffles ~(corpus token stream × span width) bytes, which is
    * the scale-killer at 100 TB. Survivors (boilerplate, license blocks
    * — rare by construction) rematerialize their exemplar text with one
    * join back over a second narrow span pass; only surviving spans'
    * strings ever move, and the survivor join is HINT-FREE: AQE
    * broadcasts the survivor table from its measured (output-sized)
    * shuffle while it fits and keeps the shuffle join when it doesn't —
    * no probe job, no driver-OOM exposure, one query for the optimizer
    * to plan globally.
    *
    * Result is oracle-exact up to 64-bit hash collisions between
    * distinct spans (~n²/2⁶⁵ — negligible against corpus sizes; a
    * collision would merge two spans' counts).
    *
    * @return (span, n_docs, n_occ), n_occ >= minOccurrences
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    spanTokens: Int, minOccurrences: Int = 2): DataFrame = {
    require(spanTokens > 0, s"spanTokens must be positive: $spanTokens")
    require(minOccurrences >= 1, s"minOccurrences must be >= 1: $minOccurrences")
    def spans: DataFrame = df
      .select(col(idCol), TextStats.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= spanTokens)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(col("__toks")) - spanTokens),
          i => array_join(slice(col("__toks"), i + 1, lit(spanTokens)), " ")))
          .as("span"))
    val counted = spans
      .groupBy(xxhash64(col("span")).as("__h"))
      .agg(countDistinct(col(idCol)).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minOccurrences)
    spans.select(xxhash64(col("span")).as("__h"), col("span"))
      .join(counted, Seq("__h"))
      // collapse the surviving occurrences to one exemplar per hash; the
      // min() tiebreak keeps the result deterministic even on a collision
      .groupBy(col("__h"), col("n_docs"), col("n_occ"))
      .agg(min(col("span")).as("span"))
      .select(col("span"), col("n_docs"), col("n_occ"))
  }

  /** C4-style span masking — the APPLICATION step of [[repeatedSpans]]:
    * rewrite every document with each occurrence of a cross-document
    * frequent span (appearing in >= `minDocs` distinct documents)
    * removed, token-exactly. Returns
    * `(idCol, n_before int, n_after int, text_masked)` — one row per
    * input document, `text_masked` the space-rejoined kept tokens
    * (empty string when fully masked).
    *
    * Scale shape: span STRINGS never leave their row — the frequency
    * aggregation and the survivor join both run on the native
    * position-ordered XXH64 stream ([[graft.functions.ArrayMath
    * .shingleHash64]], 8-byte keys, map-side combined), the per-document
    * covered-start sets are `collect_set` over a doc-keyed shuffle
    * (bounded by tokens/doc), and the rewrite is a narrow codegen'd HOF
    * (O(tokens × matched starts) per row). Same collision caveat as
    * [[repeatedSpans]]: a 64-bit collision (~n²/2⁶⁵) could mask a
    * non-frequent span occurrence.
    */
  def maskRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                        spanTokens: Int, minDocs: Int = 2): DataFrame = {
    require(spanTokens > 0, s"spanTokens must be positive: $spanTokens")
    require(minDocs >= 1, s"minDocs must be >= 1: $minDocs")
    graft.ops.Guards.requireNoReservedNames(df,
      Seq("__p", "__h", "__starts", "n_before", "n_after", "text_masked"),
      "maskRepeatedSpans")
    import graft.functions.ArrayMath
    def spans: DataFrame = df.select(col(idCol),
      posexplode(ArrayMath.shingleHash64(
        TextStats.tokens(col(textCol)), spanTokens, distinct = false))
        .as(Seq("__p", "__h")))
    val freq = spans
      .groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))
    // hint-free: AQE broadcasts the frequent-hash side when it fits
    val starts = spans.join(freq, Seq("__h"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__p")).as("__starts"))
    val noStarts = coalesce(col("__starts"), array().cast("array<int>"))
    val rebuilt = ArrayMath.bound(TextStats.tokens(col(textCol))) { w =>
      ArrayMath.bound(filter(
        zip_with(w, sequence(lit(0), size(w) - 1), (t, p) => struct(t.as("t"), p.as("p"))),
        x => !exists(noStarts, s =>
          s <= x.getField("p") && x.getField("p") < s + spanTokens))) { kept =>
        struct(size(w).as("n_before"), size(kept).as("n_after"),
          array_join(transform(kept, _.getField("t")), " ").as("text_masked"))
      }
    }
    df.join(starts, Seq(idCol), "left")
      .select(col(idCol), rebuilt.as("__out"))
      .select(col(idCol), col("__out.n_before").as("n_before"),
        col("__out.n_after").as("n_after"), col("__out.text_masked").as("text_masked"))
  }

  /** Shared tail: aggregate per-pair intersection counts (input must have
    * columns id_a, id_b, n_a, n_b — one row per shared shingle) and
    * derive |union| and jaccard from the set sizes riding along.
    */
  private def jaccardFromCounts(pairRows: DataFrame, minJaccard: Double): DataFrame =
    pairRows
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_inter"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 5, minJaccard: Double = 0.0): DataFrame = {
    // Set size rides along through the explode, so the pair aggregation has
    // |A| and |B| in hand — no extra per-side size joins (2 fewer shuffles,
    // and the shingle expression is evaluated half as often). The explicit
    // repartition on the join key makes both self-join sides the SAME
    // Exchange subtree (renames happen above it), so ReuseExchange
    // shingles + shuffles the corpus ONCE and the join adds no exchange.
    val exploded = explodedShingles(df, idCol, textCol, shingleSize)
      .repartition(col("shingle"))
    val a = exploded.select(col(idCol).as("id_a"), col("n_sh").as("n_a"), col("shingle"))
    val b = exploded.select(col(idCol).as("id_b"), col("n_sh").as("n_b"), col("shingle"))
    // Deliberately a sort-merge join, NOT shuffle_hash: SHJ skips the two
    // partition-local sorts (a measured ~15% at sf0.1, within load
    // noise) but must hold an entire build-side partition in a
    // non-spillable hash map — an OOM hazard on skewed shingle
    // partitions at corpus scale, where SMJ's sorts spill and complete.
    jaccardFromCounts(
      a.join(b, Seq("shingle")).filter(col("id_a") < col("id_b")), minJaccard)
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minShared` distinct `shingleSize`-grams with any benchmark
    * document. The canonical pre-training hygiene step — test-set
    * contamination detection — expressed as a cross-corpus shingle join:
    * explode distinct shingles on both sides, equi-join on the shingle,
    * count distinct shared shingles per (doc, benchmark) pair. Same
    * sparsity argument as [[ngramJaccardPairs]]: only docs sharing a
    * shingle ever pair. The benchmark side is broadcast by default — a
    * benchmark suite is KBs-to-MBs next to a 100 TB corpus, so the
    * corpus-side shingle stream pays NO shuffle on the join; only
    * matching rows move in the final per-pair aggregation. Set
    * `broadcastBench = false` only when the 'benchmark' is itself huge.
    */
  def crossCorpusOverlap(corpus: DataFrame, corpusId: String, corpusText: String,
                         bench: DataFrame, benchId: String, benchText: String,
                         shingleSize: Int = 5, minShared: Int = 1,
                         broadcastBench: Boolean = true): DataFrame = {
    val c = explodedShingles(corpus, corpusId, corpusText, shingleSize)
      .select(col(corpusId).as("doc_id"), col("n_sh").as("n_doc_sh"), col("shingle"))
    val b0 = explodedShingles(bench, benchId, benchText, shingleSize)
      .select(col(benchId).as("bench_id"), col("shingle"))
    val b = if (broadcastBench) broadcast(b0) else b0
    c.join(b, Seq("shingle"))
      .groupBy(col("doc_id"), col("bench_id"), col("n_doc_sh"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id"), col("bench_id"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_doc_sh")).as("contaminated_frac"))
  }

  /** Inverted-index variant of [[ngramJaccardPairs]]: group by shingle,
    * collect the (id, set-size) posting list, and emit in-list pairs with
    * a nested-transform expansion — ONE shuffle of the exploded shingles
    * plus the pair aggregation, no self-join (and so no per-side sort).
    * Pair work is Σ|posting|² — identical to the join's output size; the
    * posting list for a shingle must fit in memory, which holds whenever
    * the join variant was viable at all (same skew bound, tuned by
    * `shingleSize`).
    */
  def ngramJaccardPairsPostings(df: DataFrame, idCol: String, textCol: String,
                                shingleSize: Int = 5, minJaccard: Double = 0.0): DataFrame = {
    val postings = explodedShingles(df, idCol, textCol, shingleSize)
      .groupBy(col("shingle"))
      .agg(collect_list(struct(col(idCol).as("id"), col("n_sh").as("n"))).as("docs"))
      .filter(size(col("docs")) > 1)
    // all ordered in-list pairs (a.id < b.id), flattened to one row each
    val pairs = postings.select(explode(flatten(transform(col("docs"), a =>
      filter(transform(col("docs"), b =>
        struct(a.getField("id").as("id_a"), b.getField("id").as("id_b"),
          a.getField("n").as("n_a"), b.getField("n").as("n_b"))),
        p => p.getField("id_a") < p.getField("id_b"))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
    jaccardFromCounts(pairs, minJaccard)
  }

  /** Connected components over an undirected candidate-pair edge list —
    * the step that turns near-dup PAIRS into dedup GROUPS. Hash-to-min
    * label propagation: every vertex starts labeled with its own id;
    * each round a vertex takes the minimum label among itself and its
    * neighbors; fixpoint = component labeled by its minimum member id.
    * Rounds needed ≤ graph diameter (dup clusters are shallow — a
    * handful of rounds in practice); each round is one join + one
    * groupBy-min, all hash-partitioned on the vertex id. Results are
    * checkpointed per round and the [[graft.ops.Observe.fixpoint]] loop
    * exits when no label changes, so lineage stays bounded; it raises
    * rather than return labels that have not converged within 20
    * rounds (a diameter past 2^20 under pointer jumping). This is how
    * pair-producing operators ([[minhashCandidatePairs]], [[ngramJaccardPairs]],
    * [[graft.text.Similarity.lshNearDupPairs]]) compose into
    * keep-one-per-cluster dedup at corpus scale.
    *
    * RETAINED STATE: the returned labels DataFrame is still
    * localCheckpoint-persisted (its lineage was truncated — it CANNOT be
    * recomputed once released). Callers should consume it and then
    * [[graft.ops.Observe.release]] it, or let [[dedupByPairs]] do exactly
    * that.
    *
    * @return (v, label) — one row per vertex appearing in any edge
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // both directions of an edge from one read of `edges`: a union of two
    // projections would run the edge plan, and read its exchanges, twice
    val sym = edges.select(inline(array(struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    Observe.releasing(sym) {
      // localCheckpoint (eager) after every round: iterative plans otherwise
      // nest one join+agg per round and the optimizer/plan machinery blows
      // up long before the data does. (On a real cluster prefer reliable
      // `checkpoint` — executor loss under localCheckpoint forces a rerun.)
      val init = sym.select(col("src").as("v")).distinct()
        .withColumn("label", col("v"))
        .localCheckpoint(true)
      // the round metric is the count of labels it changed; the seed
      // labels' count is unknown (-1, never 0), so at least one round runs
      Observe.fixpoint("connectedComponents", init, start = -1L, maxRounds = 20) { labels =>
        val nbrMin = sym
          .join(labels.select(col("v").as("dst"), col("label")), "dst")
          .groupBy(col("src").as("v")).agg(min(col("label")).as("nbr_label"))
        // prelim is checkpointed too: the pointer-jump self-join reads it
        // on BOTH sides, and without materialization each side would
        // re-execute the sym-join + groupBy-min subtree. It carries the
        // round's starting label as __old so convergence is decidable
        // inside the jump job (below) instead of by a separate join.
        val prelim = labels.join(nbrMin, Seq("v"), "left")
          .select(col("v"), col("label").as("__old"),
            least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
          .localCheckpoint(true)
        // Pointer jump (path halving): follow label → label(label). Labels
        // are always vertex ids, so the self-join resolves every row; this
        // turns per-round propagation from one hop into doubling, making
        // convergence O(log diameter) instead of O(diameter). The changed
        // count rides the SAME job (CollectMetrics evaluates during the
        // checkpoint materialization), replacing the old per-round
        // jumped⋈labels + limit(1).count() convergence job — one fewer
        // shuffle + action per round for every components caller.
        Observe.releasing(prelim) {
          Observe.checkpointed(prelim
            .join(prelim.select(col("v").as("label"), col("label").as("__ll")),
              Seq("label"), "left")
            .select(col("v"), col("__old"), coalesce(col("__ll"), col("label")).as("label")),
            sum(when(col("label") =!= col("__old"), 1L).otherwise(0L)), "v", "label")
        }
      }((_, changed) => changed == 0L)
    }
  }

  /** Keep-one-per-cluster dedup from a candidate-pair list: rows whose id
    * is its component's minimum survive (plus every row in no pair at
    * all). The left-anti join removes only non-minimum members.
    *
    * The per-vertex labels checkpoint from [[connectedComponents]] is
    * released HERE, deterministically: the (smaller, id-only) losers set
    * is eagerly materialized as its own checkpoint first, then the full
    * labels table is released — so what rides along with the returned
    * lazy plan is only the compact losers table, not every vertex's
    * label. (That residual checkpoint is freed by the ContextCleaner once
    * the returned plan is no longer referenced.)
    */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
                   aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol)
    val losers = labels
      .filter(col("v") =!= col("label"))
      .select(col("v").as(idCol))
      .localCheckpoint(true)
    Observe.release(labels)
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dedupByPairs]] with a QUALITY keeper instead of min-id: each
    * duplicate cluster keeps its best member by `(keepBy DESC, id ASC)`
    * — the curation semantic C4/RefinedWeb-style pipelines actually
    * want (keep the longest / highest-quality copy, not whichever
    * happened to get the smallest id). `keepBy` must be a NUMERIC
    * column expression over `df` (ids must be numeric too — the
    * tiebreak negates them); ties are exact, so the survivor set is
    * engine-replayable.
    *
    * Scale shape: [[connectedComponents]]' pointer-jumped labels join
    * the (id, score) projection once; the per-cluster argmax is one
    * map-side-combined `max(struct(score, -id))` aggregation — state is
    * cluster-sized, never corpus-sized; survivors anti-join back.
    */
  def dedupByPairsKeepBest(df: DataFrame, idCol: String, pairs: DataFrame,
                           keepBy: Column,
                           aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol)
    val scored = labels
      .join(df.select(col(idCol).as("v"), keepBy.as("__keep")), Seq("v"))
    val winners = scored.groupBy(col("label"))
      .agg(max(struct(col("__keep").as("k"), (-col("v")).as("negid"))).as("__best"))
      .select((-col("__best.negid")).as("v"))
    val losers = scored.select(col("v"))
      .join(winners, Seq("v"), "left_anti")
      .select(col("v").as(idCol))
      .localCheckpoint(true)
    Observe.release(labels)
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** 32-bit SimHash over the document's distinct tokens: per hash bit,
    * sum ±1 across token hashes; bit set iff the sum is non-negative.
    * Computed by the native [[graft.functions.SimHash32]] expression —
    * one XXH64 pass + 32 counter updates per token in a tight JVM loop
    * (the HOF formulation it replaced built a 32-char bit STRING per
    * token and folded interpreted arrays — ~5× slower at bench scale).
    * Near-dups then cluster by simhash (or by bands of it) at scale.
    */
  def simhash32(text: Column): Column =
    graft.functions.ArrayMath.simhash32(array_distinct(TextStats.tokens(text)))

  /** The original HOF formulation, kept as the executable spec for the
    * native expression (law test: identical output on every doc).
    */
  private[text] def simhash32Hof(text: Column): Column =
    simhash32HofTokens(array_distinct(TextStats.tokens(text)))

  private[text] def simhash32HofTokens(toks: Column): Column = {
    // 32-char bit string (MSB first) of each token hash's low 32 bits.
    val bitsPerToken = transform(toks,
      t => filter(split(substring(lpad(bin(xxhash64(t)), 64, "0"), 33, 32), ""), c => c =!= ""))
    val counts = aggregate(
      bitsPerToken,
      array_repeat(lit(0), 32),
      (acc, bits) => zip_with(acc, bits, (a, c) => a + when(c === "1", 1).otherwise(-1)))
    aggregate(counts, lit(0L), (acc, c) => acc * 2 + when(c >= 0, 1L).otherwise(0L))
  }

  /** Near-dup candidate pairs by SimHash band equality (16-bit halves):
    * docs agreeing on either half are candidates; exact Hamming distance
    * is then computed only on those.
    */
  def simhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3): DataFrame = {
    val hashed = df.select(col(idCol), simhash32(col(textCol)).as("sh"))
    val banded = hashed.select(col(idCol), col("sh"),
      posexplode(array(shiftright(col("sh"), 16), col("sh").bitwiseAND(lit(0xFFFFL))))
        .as(Seq("band_idx", "band_val")))
    val a = banded.select(col(idCol).as("id_a"), col("sh").as("sh_a"), col("band_idx"), col("band_val"))
    val b = banded.select(col(idCol).as("id_b"), col("sh").as("sh_b"), col("band_idx"), col("band_val"))
    val hamming = bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b")).distinct()
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Per-document shingle novelty — the memorization-risk inverse of
    * the dedup family: what fraction of each document's distinct
    * n-gram shingles appear in NO other document. Low novelty =
    * boilerplate/near-dup tissue [[ngramJaccardPairs]] will also see;
    * high novelty = unique content worth keeping (or a contamination
    * candidate worth checking). Returns
    * `(idCol, n_shingles, n_unique, novelty)`; documents shorter than
    * the shingle size report 0 shingles and a null score.
    *
    * Counts are hash-invariant: Spark counts 64-bit shingle hashes
    * (8-byte shuffle keys — the [[ngramJaccardPairs]] scale posture)
    * while an oracle may count the string shingles; doc-frequencies
    * agree modulo hash collisions, the same accepted bound as the
    * Jaccard family.
    *
    * Scale shape: one shingle-keyed aggregation (map-combined), one
    * doc-keyed rollup of the joined frequencies, a left join back to
    * the id spine for shingle-less docs.
    */
  def shingleNovelty(df: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 5): DataFrame = {
    val base = df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val pairs = base.select(col(idCol),
        explode(graft.functions.ArrayMath.shingleHash64(
          TextStats.tokens(col(textCol)), shingleSize)).as("__g"))
    val cnt = pairs.groupBy(col("__g")).agg(count(lit(1)).as("__nd"))
    val per = pairs.join(cnt, "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__nd") === 1L, 1L).otherwise(0L)).as("n_unique"))
    base.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0L,
          round(col("n_unique").cast("double")
            / col("n_shingles").cast("double"), 6)).as("novelty"))
  }

  /** Exact-substring duplicated-span inventory — the ExactSubstr
    * primitive of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2022), the one canonical LLM-dedup pass this
    * suite's exact-doc / near-dup / frequent-span family did not yet
    * cover (north-star extension, not a reference behavior),
    * reformulated so it distributes: every
    * MAXIMAL token range lying inside some substring of >= `minTokens`
    * tokens that occurs at least `minOccurrences` times in the corpus.
    * Occurrences are TOTAL (a span repeated twice inside one document
    * is duplicated) — unlike [[maskRepeatedSpans]]'s C4-style
    * distinct-document criterion.
    *
    * The identity that makes the fixed-width reformulation EXACT, not
    * approximate (no suffix array needed): a token position lies inside
    * a duplicated substring of length >= L iff it is covered by a
    * duplicated L-gram — every window of a duplicated substring is
    * itself duplicated, and a duplicated L-gram IS a duplicated
    * substring of length L. So the union of duplicated-L-gram windows
    * equals the paper's removal set, and merging overlapping windows
    * (equal width ⇒ islands break exactly where a start exceeds its
    * predecessor by more than L) yields the maximal spans.
    *
    * Returns one row per maximal span:
    * `(idCol, span_start int, span_end int, span_tokens int)` — token
    * indices, 0-based, end-exclusive.
    *
    * Scale shape: the gram census is ONE map-combined exchange on
    * native 8-byte XXH64 keys ([[graft.functions.ArrayMath
    * .shingleHash64]] — span strings never shuffle); the survivor join
    * is hint-free (AQE broadcasts the duplicated-hash side while it
    * fits); the island merge shuffles ONLY duplicated starts by
    * document (bounded by the corpus's duplicated mass, not its size)
    * through a lag/running-sum window bounded by tokens/doc. Same
    * collision caveat as [[repeatedSpans]] (~n²/2⁶⁵: a collision could
    * mark a unique gram duplicated).
    */
  def exactSubstrSpans(df: DataFrame, idCol: String, textCol: String,
                       minTokens: Int, minOccurrences: Int = 2): DataFrame = {
    require(minTokens > 0, s"minTokens must be positive: $minTokens")
    require(minOccurrences >= 2,
      s"minOccurrences must be >= 2 (duplication threshold): $minOccurrences")
    graft.ops.Guards.requireNoReservedNames(df,
      Seq("__p", "__h", "__n", "__brk", "__isl",
        "span_start", "span_end", "span_tokens"), "exactSubstrSpans")
    import graft.functions.ArrayMath
    def grams: DataFrame = df.select(col(idCol),
      posexplode(ArrayMath.shingleHash64(
        TextStats.tokens(col(textCol)), minTokens, distinct = false))
        .as(Seq("__p", "__h")))
    val dup = grams.groupBy(col("__h"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minOccurrences)
      .select(col("__h"))
    // hint-free: AQE broadcasts the duplicated-hash side when it fits
    val starts = grams.join(dup, Seq("__h")).select(col(idCol), col("__p"))
    mergeStartIslands(starts, idCol, minTokens)
  }

  /** Shared island merge: covered gram start positions (columns idCol,
    * `__p` int) → maximal covered token ranges for a fixed gram width.
    * Equal-width windows mean contiguity breaks exactly where a start
    * exceeds its predecessor by more than `width`; one lag + running-sum
    * window per document, bounded by tokens/doc.
    */
  private def mergeStartIslands(starts: DataFrame, idCol: String,
                                width: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("__p"))
    val prev = lag(col("__p"), 1).over(w)
    starts
      .select(col(idCol), col("__p"),
        when(prev.isNotNull && col("__p") <= prev + width, 0L)
          .otherwise(1L).as("__brk"))
      .select(col(idCol), col("__p"),
        sum(col("__brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("__isl"))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__p")).as("__s"), max(col("__p")).as("__m"))
      .select(col(idCol),
        col("__s").cast("int").as("span_start"),
        (col("__m") + width).cast("int").as("span_end"),
        (col("__m") + width - col("__s")).cast("int").as("span_tokens"))
  }

  /** Substring-level decontamination inventory — [[exactSubstrSpans]]'
    * cross-corpus sibling and the substring-granular upgrade of
    * [[crossCorpusOverlap]]: every MAXIMAL corpus token range covered by
    * a `minTokens`-gram that also occurs in the benchmark corpus. Where
    * the overlap report SCORES doc×bench contamination, this LOCALIZES
    * it to exact token spans — the ranges an eval-leakage cut actually
    * removes (compose with the [[exactSubstrCut]] rewrite shape, or mask
    * upstream of training). Same covering-window exactness argument as
    * [[exactSubstrSpans]], with "duplicated in the corpus" replaced by
    * "present in the benchmark".
    *
    * Scale shape: a benchmark is fixed-size by nature (it does not grow
    * with the corpus), so its distinct gram hashes broadcast
    * (`broadcastBench = true`, [[crossCorpusOverlap]]'s posture) and the
    * corpus side never shuffles for the probe — one LEFT SEMI broadcast
    * join over the narrow (id, pos, hash) stream; the island merge then
    * shuffles only contaminated starts. Same ~n²/2⁶⁵ collision caveat.
    */
  def exactSubstrContamination(corpus: DataFrame, idCol: String,
                               textCol: String, bench: DataFrame,
                               benchTextCol: String, minTokens: Int,
                               broadcastBench: Boolean = true): DataFrame = {
    require(minTokens > 0, s"minTokens must be positive: $minTokens")
    graft.ops.Guards.requireNoReservedNames(corpus,
      Seq("__p", "__h", "__brk", "__isl",
        "span_start", "span_end", "span_tokens"), "exactSubstrContamination")
    import graft.functions.ArrayMath
    val grams = corpus.select(col(idCol),
      posexplode(ArrayMath.shingleHash64(
        TextStats.tokens(col(textCol)), minTokens, distinct = false))
        .as(Seq("__p", "__h")))
    val b0 = bench.select(explode(ArrayMath.shingleHash64(
        TextStats.tokens(col(benchTextCol)), minTokens)).as("__h"))
      .distinct()
    val b = if (broadcastBench) broadcast(b0) else b0
    val starts = grams.join(b, Seq("__h"), "left_semi")
      .select(col(idCol), col("__p"))
    mergeStartIslands(starts, idCol, minTokens)
  }

  /** Exact-substring dedup — the APPLICATION step of
    * [[exactSubstrSpans]]: rewrite every document with all tokens
    * inside any duplicated >= `minTokens`-token substring removed
    * (EVERY occurrence goes — the paper's cut, which deletes the
    * duplicated text itself rather than keeping one exemplar). Returns
    * `(idCol, n_before int, n_after int, n_spans int, text_dedup)` —
    * one row per input document, `text_dedup` the space-rejoined kept
    * tokens (empty string when fully cut).
    *
    * Scale shape: the span inventory (bounded by duplicated mass, not
    * corpus size) aggregates to <= spans/doc structs and joins back
    * document-keyed (hint-free; AQE broadcasts while it fits); the
    * rewrite is a narrow codegen'd HOF, O(tokens × spans) per row.
    * Span strings never move.
    */
  def exactSubstrCut(df: DataFrame, idCol: String, textCol: String,
                     minTokens: Int, minOccurrences: Int = 2): DataFrame = {
    graft.ops.Guards.requireNoReservedNames(df,
      Seq("__spans", "__out", "n_before", "n_after", "n_spans",
        "text_dedup"), "exactSubstrCut")
    import graft.functions.ArrayMath
    val spans = exactSubstrSpans(df, idCol, textCol, minTokens, minOccurrences)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans"))
    val sp = coalesce(col("__spans"), array().cast("array<struct<s:int,e:int>>"))
    val rebuilt = ArrayMath.bound(TextStats.tokens(col(textCol))) { toks =>
      ArrayMath.bound(filter(
        zip_with(toks, sequence(lit(0), size(toks) - 1),
          (t, p) => struct(t.as("t"), p.as("p"))),
        x => !exists(sp, r =>
          r.getField("s") <= x.getField("p") &&
            x.getField("p") < r.getField("e")))) { kept =>
        struct(size(toks).as("n_before"), size(kept).as("n_after"),
          array_join(transform(kept, _.getField("t")), " ").as("text_dedup"))
      }
    }
    df.join(spans, Seq(idCol), "left")
      .select(col(idCol), size(sp).as("n_spans"), rebuilt.as("__out"))
      .select(col(idCol),
        col("__out.n_before").as("n_before"),
        col("__out.n_after").as("n_after"),
        col("n_spans").cast("int").as("n_spans"),
        col("__out.text_dedup").as("text_dedup"))
  }
}
