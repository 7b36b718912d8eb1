package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Par, QueryDef, Tables}

/** Near-duplicate detection for an LLM-training-data corpus: MinHash+LSH,
  * SimHash, and exact n-gram Jaccard — the standard web-scale dedup ladder
  * (cheap sketch → candidate pairs → exact verify).
  *
  * Scale design (the point of each operator at 100 TB):
  *   - Everything pairs-related goes through an INVERTED-INDEX JOIN (join on
  *     shingle / band / bucket key), never an all-pairs cross join: the
  *     candidate set is Σ|bucket|², not |corpus|².
  *   - MinHash compresses a document to H digests; the banding join shuffles
  *     signatures, not documents.
  *   - SimHash compresses to one integer; Hamming distance is the codegen'd
  *     `bit_count(a ^ b)` built-in (no custom expression needed), and
  *     bucketing by the exact signature keeps the join key-equality-shaped.
  *   - Hot shingles (appearing in most documents) are the classic skew
  *     hazard: the Jaccard query drops shingles with document frequency
  *     above a cutoff — same trick as dropping stopwords from an inverted
  *     index — bounding bucket fan-in; AQE skew splitting covers the rest.
  *
  * Hashing is md5-based (available and bit-identical in both Spark and
  * DuckDB) so every deterministic step is oracle-checkable; min-over-strings
  * on fixed-width hex digests is order-isomorphic to min-over-ints.
  */
object Dedup {

  /** Pin the SIGNATURE table once per maintenance cycle (optimization
    * guide §1.2/§2.1): the delta rewrite's 3-arm band-join expansion
    * references the signature view up to six times (two sides × three
    * arms), and since the δ/base predicates push below the signature
    * aggregate, no two occurrences share a subplan — each re-runs the
    * shingle scan + 6-hash aggregate, ~2.2 corpus-equivalents of
    * redundant work per cycle. Pinning evaluates the pipeline ONCE; the
    * arms filter the materialized rows. This is also the scale-true
    * shape: a production pipeline STORES the signature table
    * (delta_minhash maintains it) rather than re-deriving it per arm,
    * and the pinned frame is |docs| × 6 digests — far smaller than the
    * corpus text it replaces re-scans of. `localCheckpoint(false)`: the
    * same LogicalRDD plan cut as an eager pin, with the final stage
    * deferred to the first consuming job instead of a standalone pin job;
    * its constraints are normalized because the rewrite clones the leaf
    * into a Union (see `GraftSql.normalizeRddConstraints`).
    */
  private def pinSigView(df: DataFrame): DataFrame =
    graft.engine.Labeled.job(df.sparkSession, "pipeline:sig-pin") {
      org.apache.spark.sql.graft.GraftSql
        .normalizeRddConstraints(df.localCheckpoint(false))
    }

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Exploded DISTINCT trigram rows (doc_id, s), generated PARTITION-LOCALLY
    * by the native [[org.apache.spark.sql.graft.WordShingles]] kernel +
    * built-in `explode` — no shuffle at all between the scan and whatever
    * aggregation consumes the rows. Shingling is per-document local; the
    * earlier relational form (posexplode + windowed `lead` + global
    * `distinct`) hash-shuffled and sorted every TOKEN row of the corpus,
    * which at 100 TB is the dedup bottleneck. (The array-HOF form
    * (`transform`/`array_distinct`) is also wrong here: LambdaFunction has
    * no codegen, measured ~5× slower.) The per-document distinct lives
    * inside the kernel, so no downstream `.distinct()` is needed.
    */
  def shingleRows(docs: DataFrame): DataFrame =
    Par.spread(docs)
      .select(col("doc_id"),
        explode(graft.functions.VecFunctions.wordShingles(col("text"), 3)).as("s"))

  /** doc_id + H minhash signature columns mh0..mh{H-1}: per-doc minima of
    * seed-prefixed md5 digests, one codegen'd hash aggregate.
    */
  def signatures(docs: DataFrame, h: Int): DataFrame =
    signaturesFromRows(shingleRows(docs), h)

  def signaturesFromRows(rows: DataFrame, h: Int): DataFrame =
    rows.groupBy("doc_id")
      .agg(
        min(md5(concat(lit("h0|"), col("s")).cast("binary"))).as("mh0"),
        (1 until h).map(i =>
          min(md5(concat(lit(s"h$i|"), col("s")).cast("binary"))).as(s"mh$i")): _*)

  /** Benchmark DECONTAMINATION — the train/test-overlap gate every serious
    * pretraining pipeline runs before training: training documents sharing
    * at least `minOverlap` distinct trigram shingles with ANY benchmark
    * document are flagged (a real pipeline drops or documents them; exact
    * and near duplicates of benchmark items both surface, since near-dups
    * share most shingles).
    *
    * Scale shape: the benchmark shingle SET is deduplicated and joined by
    * equality — benchmarks are small (thousands of items), so the set
    * broadcasts and the corpus-side cost is one codegen'd shingle scan +
    * a per-document count aggregate; the corpus is never shuffled by
    * shingle. Shingling is the same [[shingleRows]] kernel as the dedup
    * ladder (per-document distinct inside the kernel), so `count(*)` after
    * the join IS the distinct-overlap count.
    */
  def decontaminate(train: DataFrame, bench: DataFrame,
      minOverlap: Int): DataFrame = {
    val benchSet = shingleRows(bench).select("s").distinct()
    shingleRows(train)
      .join(benchSet, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Sub-document (PASSAGE-level) exact dedup — the C4/RefinedWeb-style
    * gate below document granularity: the corpus is cut into
    * non-overlapping `words`-word passages, passages repeated ANYWHERE in
    * the corpus surface by digest count, and each document reports how much
    * of it is corpus-duplicated text — the trim/drop signal a pretraining
    * pipeline thresholds on (a doc that is mostly boilerplate shared with
    * other docs is dropped even when no whole-document twin exists).
    *
    * Scale shape: passages leave the scan as md5 DIGESTS, so the count
    * aggregate shuffles |passages|×16 B, never corpus text; the
    * duplicated-digest set (count > 1 — duplicates only, ≪ corpus) joins
    * back by digest equality (broadcastable in practice); two linear
    * corpus passes, nothing quadratic, no cross join.
    */
  def passageStats(docs: DataFrame, words: Int = 8): DataFrame = {
    // The split array is PROJECTED once: slice(w, …) sits inside the
    // transform lambda, which evaluates per element with no cross-lambda
    // CSE — an inlined split() would re-run once per passage, O(doc_len²/8)
    // per document. As a projected attribute it evaluates once per row,
    // and CollapseProject keeps it projected (multiply-referenced,
    // non-cheap expressions are never inlined back).
    val withW = docs.withColumn("w", split(col("text"), " "))
    val w = col("w")
    // int division floors; sequence() would count DOWN for np = 0, so the
    // no-full-window case gets an explicit empty array
    val np = (size(w) / lit(words)).cast("int")
    val passages = when(np >= 1,
      transform(sequence(lit(1), np),
        i => md5(array_join(slice(w, (i - 1) * words + 1, lit(words)), " "))))
      .otherwise(array().cast("array<string>"))
    val p = Par.spread(withW).select(col("doc_id"), explode(passages).as("pd"))
    val dup = p.groupBy("pd").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("pd")
    val perDoc = p.join(dup, "pd")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_passages"))
    withW.select(col("doc_id"), np.cast("long").as("n_passages"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_passages"),
        coalesce(col("dup_passages"), lit(0L)).as("dup_passages"),
        when(col("n_passages") > 0,
          coalesce(col("dup_passages"), lit(0L)).cast("double") /
            col("n_passages").cast("double"))
          .otherwise(lit(0.0)).as("dup_ratio"))
  }

  /** LSH candidate pairs: documents agreeing on ≥1 band of `rows` minhashes
    * (P[candidate] ≈ 1-(1-j^rows)^bands). Band-key equality join — inverted
    * index, never cross join; at scale AQE splits skewed bands.
    */
  def minhashCandidates(docs: DataFrame, bands: Int, rows: Int): DataFrame =
    candidatesFromSignatures(signatures(docs, bands * rows), bands, rows)

  def candidatesFromSignatures(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    candidatePairsRaw(sigs, bands, rows).distinct()

  /** The banding join WITHOUT the final distinct: one output row per
    * agreeing (pair, band). Exposed so incremental maintenance can push
    * the delta through the join algebra (Project/Generate/inner Join are
    * all in the rewrite envelope; a Distinct root would route through the
    * generic δ∖base interception, which recomputes the base×base join the
    * banding delta provably never needs — band keys don't change under
    * appends, so delta-arm pairs are disjoint from base pairs and a
    * post-delta `distinct()` suffices).
    */
  def candidatePairsRaw(sigs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val banded = sigs.select(
        col("doc_id"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            concat((b * rows until (b + 1) * rows).map(i => col(s"mh$i")): _*)
              .as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("d1"), col("r.doc_id").as("d2"))
  }

  /** 16 bits keeps the loop-generated oracle SQL reviewable; widening to 64
    * is the same code with more nibbles.
    */
  val simhashBits = 16

  /** Per-word md5-nibble votes (+1/-1 per bit), summed per document; the
    * signature sets bits with a positive vote sum.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val hashed = Par.spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), md5(col("w").cast("binary")).as("m"))
    // vote for bit b (0..15): nibble b/4 of the digest, bit 3-b%4 within it
    def vote(b: Int): Column = {
      val v = conv(substring(col("m"), b / 4 + 1, 1), 16, 10).cast("int")
      (shiftright(v, 3 - b % 4).bitwiseAND(lit(1)) * 2 - 1).cast("long")
    }
    val votes = hashed.groupBy("doc_id")
      .agg(sum(vote(0)).as("s0"),
        (1 until simhashBits).map(b => sum(vote(b)).as(s"s$b")): _*)
    val sig = (0 until simhashBits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs within Hamming distance `maxDist` — EXACT, via
    * pigeonhole banding: split the signature into `maxDist + 1` disjoint
    * bit-bands; a pair differing in ≤ `maxDist` bits must agree exactly on
    * at least one band, so a band-key equality self-join (inverted index,
    * Σ|bucket|² — never all-pairs) finds every qualifying pair, and the
    * codegen'd `bit_count(xor)` verify discards band-collisions beyond the
    * distance. Same output as the brute cross-join (pinned by PipelineSpec
    * against the corpus ground truth) with the join shape that survives
    * 100 TB.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < simhashBits,
      s"maxDist must be in [0, $simhashBits)")
    val nBands = maxDist + 1
    // contiguous bit ranges covering all simhashBits bits, widths within 1
    val bounds = (0 to nBands).map(b => b * simhashBits / nBands)
    def bandKey(b: Int): Column = {
      val lo = bounds(b)
      val width = bounds(b + 1) - lo
      shiftright(col("simhash"), lo).bitwiseAND(lit((1L << width) - 1))
    }
    val banded = simhash(docs).select(col("doc_id"), col("simhash"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"), bandKey(b).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val l = banded.select(col("band"), col("key"),
      col("doc_id").as("d1"), col("simhash").as("h1"))
    val r = banded.select(col("band"), col("key"),
      col("doc_id").as("d2"), col("simhash").as("h2"))
    l.join(r, Seq("band", "key"))
      .filter(col("d1") < col("d2"))
      .withColumn("dist", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("dist") <= maxDist)
      .select("d1", "d2", "dist")
      .distinct()
  }

  /** Near-duplicate embedding pairs: LSH-bucketed (reusing [[Similarity]]
    * bands) then exact cosine ≥ `minCos`. Band geometry trades recall vs
    * bucket size: recall per pair ≈ 1-(1-p^bits)^bands with p = 1-θ/π; at a
    * true near-dup threshold (≥0.95) use wide bands (8 bits), at looser
    * thresholds use narrow ones.
    */
  def embeddingNearDups(emb: DataFrame, minCos: Double,
      nBands: Int = 8, bandBits: Int = 3): DataFrame = {
    // candidate ID pairs first, embeddings re-joined after: the band join
    // and the band-duplicate-collapsing distinct see only (vec_id, band,
    // sig) scalars, so each embedding array crosses the wire exactly once
    // per join side (by vec_id) instead of once per band replica — at
    // 100 TB the nBands× embedding amplification is the dominant shuffle
    val keyed = Similarity.withBands(emb, nBands, bandBits, 64)
      .select(col("vec_id"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"), col(s"band_$b").as("sig"))): _*)).as("bs"))
      .select(col("vec_id"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    val pairs = keyed.select(col("band"), col("sig"), col("vec_id").as("d1"))
      .join(keyed.select(col("band"), col("sig"), col("vec_id").as("d2")),
        Seq("band", "sig"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct()
    // threshold on the integer-quantized score (minCos·Scale² as a long):
    // for the unit-norm embeddings this is the cosine threshold to within
    // dim·1e-6, and it makes the verify step — like the banding above —
    // exact int64 arithmetic the DuckDB oracle replays bit-for-bit
    val minSdot = math.round(minCos * Similarity.Scale * Similarity.Scale)
    pairs
      .join(emb.select(col("vec_id").as("d1"), col("embedding").as("e1")), "d1")
      .join(emb.select(col("vec_id").as("d2"), col("embedding").as("e2")), "d2")
      .select(col("d1"), col("d2"),
        Similarity.sdot(col("e1"), col("e2")).as("sdot"))
      .filter(col("sdot") >= minSdot)
  }

  /** Shingle document-frequency cutoff for the exact all-pairs API. */
  private val DfCutoff = 50
  private val JaccardMin = 0.5

  /** Exact all-pairs trigram Jaccard via inverted-index join, with a
    * hot-shingle df cutoff. Ground truth for the sketch paths (specs) —
    * inherently Σdf² pair rows, so NOT the declared query at scale; the
    * `dedup_ngram` query runs the candidates-then-verify ladder instead.
    */
  def exactJaccardPairs(docs: DataFrame, dfCutoff: Int = DfCutoff,
      minJ: Double = JaccardMin): DataFrame = {
    val ws = shingleRows(docs)
    val keep = ws.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCutoff).select("s")
    val ws2 = ws.join(keep, "s")
    val sz = ws2.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = ws2.as("a").join(ws2.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"))
    val j = col("i").cast("double") /
      (col("n1") + col("n2") - col("i")).cast("double")
    inter
      .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"), j.as("jaccard"))
      .filter(col("jaccard") >= minJ)
  }

  /** Connected components of an undirected pair graph by min-label STAR
    * CONTRACTION: every node starts as its own label; each round takes
    * the min label within one hop (propagate) and then merges every
    * label-group into the smallest group any of its members touched
    * (reverse step, one groupBy(label) min) — so label-groups per
    * component at least halve each round: O(log diameter)
    * driver-coordinated rounds instead of O(diameter), the property that
    * matters at 100 TB where one long duplicate chain would otherwise
    * serialize the whole job into d global rounds. Each round works over
    * the (id, label) frame only — never a growing edge set (the
    * large-star/small-star edge-rewriting family re-materializes edges
    * per round; the label frame here is strictly smaller). The per-round
    * convergence check is one 1-row aggregate action —
    * driver-coordinated ITERATION, never driver-side data.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    ccWithRounds(pairs, maxIter)._1

  /** [[connectedComponents]] also reporting the number of rounds taken —
    * the spec pins the pointer-doubling bound (≈log₂ d) on a planted
    * chain, so a regression to linear rounds can't land silently.
    */
  private[graft] def ccWithRounds(pairs: DataFrame,
      maxIter: Int = 25): (DataFrame, Int) = {
    val edges = pairs.select(col("d1").as("a"), col("d2").as("b"))
      .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
      .persist()
    // round 0 fused into initialization: label = min(self, direct
    // neighbors) — one aggregation replaces the distinct AND the first
    // propagation round (plus its convergence check).
    // Each round's frame is a localCheckpoint, not persist: the label
    // frame is referenced THREE times per round (self, neighbor-min,
    // pointer lookup), so a lazy cached lineage would grow 3^rounds plan
    // nodes — checkpointing truncates to a LogicalRDD and keeps the
    // per-round plan (and codegen time) constant. The checkpoints are
    // `localCheckpoint(false)`: each round's shuffle stages run where the
    // checkpoint is taken, and its final stage runs inside the round's
    // convergence check (a full-frame aggregate) — an eager pin would add
    // one more standalone final-stage job per round. Superseded rounds'
    // blocks are freed at once (unpinNow below).
    var labels = edges.groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("label"))
      .select(col("a").as("id"), col("label"))
      .localCheckpoint(false)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // star contraction, two half-steps per round:
      //   nm(v)  = min label within one hop (self included) — propagate
      //   gm(m)  = min nm over the members of label-group m — the REVERSE
      //            step: a group's representative learns the smallest id
      //            ANY member saw, and every member jumps there via the
      //            gm(label(v)) lookup. Pull-only pointer doubling
      //            (label ← label(label)) is NOT enough: on a chain with
      //            shuffled ids the label's own neighborhood is elsewhere
      //            on the chain, and rounds degrade back to O(d). With the
      //            reverse step adjacent label-groups merge into their
      //            smaller neighbor every round — group count per
      //            component at least halves ⇒ O(log d) rounds.
      // nm stays LAZY (round-7): both of its consumers — the gm aggregate
      // and the final join — shuffle it on `label`, so the planner's
      // exchange reuse computes the nm subtree once within the single
      // round job; a separate eager checkpoint here was one more full
      // driver barrier per round (~3 barriers × ~8 rounds was the shape
      // that turned shared-box contention into multi-second bench rows).
      // Per-round lineage still truncates at `next`'s checkpoint below,
      // so plan size (and codegen time) stays constant across rounds.
      val nm = labels
        .join(edges.join(labels, edges("b") === labels("id"))
            .groupBy(edges("a").as("nid")).agg(min(col("label")).as("nbl")),
          labels("id") === col("nid"), "left")
        .select(labels("id"), labels("label"),
          least(labels("label"), coalesce(col("nbl"), labels("label")))
            .as("nm"))
      val gm = nm.groupBy(col("label").as("gl")).agg(min(col("nm")).as("gm"))
      val merged = least(col("nm"), coalesce(col("gm"), col("nm")))
      val next = nm
        .join(gm, nm("label") === gm("gl"), "left")
        .select(nm("id"), merged.as("label"),
          (merged < nm("label")).cast("long").as("chg"))
        .localCheckpoint(false)
      // the convergence check MATERIALIZES the lazy checkpoint (it reads
      // every partition, so the round's one aggregate job is also the pin
      // job). sum over an EMPTY frame is NULL, not 0 — an empty pair
      // graph must converge, not NPE
      val row = next.agg(sum(col("chg"))).head()
      val changed = if (row.isNullAt(0)) 0L else row.getLong(0)
      // the superseded round's checkpoint blocks are dead the moment
      // `next` is materialized (its lineage is truncated past `labels`) —
      // drop them NOW instead of waiting for GC + ContextCleaner, which
      // let dead round frames pile up across a multi-round run (the
      // recurring dedup_survivors warm-pass variance)
      org.apache.spark.sql.graft.GraftSql.unpinNow(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    if (!converged) {
      // silent truncation would report multiple "survivors" per component
      // (and diverge from any exact closure) while LOOKING successful
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — the " +
          "pair graph has a longer chain than expected; raise maxIter")
    }
    // the final round's frame is ALREADY materialized: its lazy
    // `localCheckpoint(false)` ran its shuffle stages when it was taken
    // and its final stage inside the convergence check, which reads every
    // partition — returning it directly avoids a second cached copy. (The previous extra persist() was a per-execution block leak
    // for callers that never unpersist — e.g. the declared query run
    // repeatedly by the bench — and showed up as multi-second run-to-run
    // variance while the ContextCleaner caught up. Checkpoint blocks are
    // freed when the frame is garbage-collected, same as every other
    // localCheckpoint in the engine; a caller's unpersist() is a no-op.)
    (labels.drop("chg"), iter)
  }

  private val ShinglesCte =
    """WITH ws AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |           generate_series(1, len(w)-2),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))""".stripMargin

  /** Shared by `decontaminate` and its maintained twin
    * `delta_decontaminate` — the merge identity says the maintained view
    * equals this full recompute.
    */
  private val DecontOracle =
    s"""$ShinglesCte,
       |bs AS (SELECT DISTINCT s FROM ws WHERE doc_id % 10 = 3),
       |tr AS (SELECT doc_id, s FROM ws WHERE doc_id % 10 <> 3)
       |SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap
       |FROM tr JOIN bs ON tr.s = bs.s
       |GROUP BY tr.doc_id HAVING COUNT(*) >= 10
       |ORDER BY doc_id""".stripMargin

  /** The full dedup ladder as a reusable DataFrame: minhash sketch → LSH
    * banding candidates → exact Jaccard ≥ [[JaccardMin]] verified on the
    * candidates only. Columns (d1, d2, jaccard). The shingle stage feeds
    * four subtrees; since the WordShingles rewrite it is shuffle-free
    * scan→generate codegen, so recomputing it per subtree is a pipelined
    * re-scan, cheaper than persist (which serializes the stages).
    */
  def ngramLadderPairs(docs: DataFrame): DataFrame = {
    val ws = shingleRows(docs)
    jaccardVerify(ws,
      candidatesFromSignatures(signaturesFromRows(ws, 6), bands = 3, rows = 2))
  }

  /** Exact-Jaccard verification of an EXPLICIT candidate-pair set — the
    * ladder's last stage, factored so the incremental path can verify only
    * a maintenance cycle's new candidates against (restricted) shingle
    * rows. Work is |cand| × shingles-per-doc, never corpus².
    */
  private[graft] def jaccardVerify(ws: DataFrame, cand: DataFrame): DataFrame = {
    val sz = ws.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(ws.as("w1"), col("w1.doc_id") === col("d1"))
      .join(ws.as("w2"),
        col("w2.doc_id") === col("d2") && col("w2.s") === col("w1.s"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("i"))
    val j = col("i").cast("double") /
      (col("n1") + col("n2") - col("i")).cast("double")
    inter
      .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"), j.as("jaccard"))
      .filter(col("jaccard") >= JaccardMin)
  }

  /** INCREMENTAL SURVIVOR MAINTENANCE (r7): update the connected-component
    * survivor view under appends WITHOUT re-running CC over the base
    * graph. Near-dup pairs are append-stable (band keys and pairwise
    * Jaccard never change when unrelated docs arrive), so the full-corpus
    * pair set is exactly `base pairs ⊎ new pairs` — and CC over it equals
    * CC over the CONTRACTED micrograph: every stored component collapses
    * to its label (= the component's min id, the survivor), each new edge
    * maps its endpoints through that contraction, and micro-CC runs over
    * |new pairs| edges only. Because contracted node ids are themselves
    * min-doc-ids (stored labels) or fresh doc ids, the micro labels are
    * directly the merged components' global min ids.
    *
    * Scale shape: the stored view is PROBED, never shuffled — one
    * broadcast-semi restriction to the touched endpoints (`rel`,
    * |δ|-sized) feeds the contraction, and the final remap is a broadcast
    * left join of the tiny micro-label frame against the view. A cycle's
    * cost is the micro-CC (O(log) rounds over |new edges|) plus two
    * pipelined passes over the stored view; the base pair graph is never
    * recomputed. Intra-component new edges contract to self-loops and are
    * dropped before the micro-CC, so a cycle that discovers nothing new
    * costs one empty CC and an identity remap.
    */
  def incrementalSurvivors(baseLabels: DataFrame,
      newPairs: DataFrame): DataFrame = {
    // Pin the |δ|-sized inputs ONCE: the
    // new-pair frame feeds `ends`, the contraction, and (through `rel`)
    // both remap arms, and a caller's lazy lineage — e.g. the full
    // δ-candidate + Jaccard pipeline in `delta_survivors` — would
    // otherwise re-execute at EVERY reuse, including once per micro-CC
    // round (measured 67s warm vs ~3s pinned at sf0.1).
    val np = newPairs.localCheckpoint(false)
    val ends = np.select(col("d1").as("id"))
      .union(np.select(col("d2").as("id"))).distinct()
    // stored rows for touched endpoints only — |δ|-sized by construction;
    // pinned for the same reason (read by l1, l2, and the entrant anti).
    // Both pins lazy: each runs its shuffle and broadcast stages where it
    // is taken and defers only its final stage to its first consumer
    val rel = baseLabels.join(broadcast(ends), Seq("id"), "left_semi")
      .localCheckpoint(false)
    val l1 = rel.select(col("id").as("d1"), col("label").as("l1"))
    val l2 = rel.select(col("id").as("d2"), col("label").as("l2"))
    val contracted = np
      .join(broadcast(l1), Seq("d1"), "left")
      .join(broadcast(l2), Seq("d2"), "left")
      .select(coalesce(col("l1"), col("d1")).as("d1"),
        coalesce(col("l2"), col("d2")).as("d2"))
      .filter(col("d1") =!= col("d2"))
    val micro = connectedComponents(contracted)
      .select(col("id").as("mid"), col("label").as("mlabel"))
    // components untouched by any surviving edge are absent from micro
    // and keep their stored label via the coalesce
    val remapped = baseLabels
      .join(broadcast(micro), col("label") === col("mid"), "left")
      .select(col("id"), coalesce(col("mlabel"), col("label")).as("label"))
    // graph entrants (endpoints with no stored row): contracted id = own
    // id, so their label reads straight off the micro frame
    val entrants = ends.join(broadcast(rel.select("id")), Seq("id"), "left_anti")
      .join(broadcast(micro), col("id") === col("mid"))
      .select(col("id"), col("mlabel").as("label"))
    remapped.unionByName(entrants)
  }

  /** The ladder as oracle SQL ending in a `pairs(d1, d2, jaccard)` CTE. */
  private def ngramPairsSql(withRecursive: Boolean): String = {
    val head =
      if (withRecursive) ShinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ")
      else ShinglesCte
    s"""$head,
       |sig AS (SELECT doc_id,
       |${(0 until 6).map(i => s"  min(md5('h$i|' || s)) AS mh$i")
           .mkString(",\n")}
       |  FROM ws GROUP BY doc_id),
       |bands AS (SELECT doc_id, mh0 || mh1 AS b0, mh2 || mh3 AS b1,
       |    mh4 || mh5 AS b2 FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b ON a.doc_id < b.doc_id
       |    AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2)),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ws GROUP BY doc_id),
       |inter AS (
       |  SELECT c.d1, c.d2, COUNT(*) AS i
       |  FROM cand c
       |  JOIN ws w1 ON w1.doc_id = c.d1
       |  JOIN ws w2 ON w2.doc_id = c.d2 AND w2.s = w1.s
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT d1, d2,
       |    CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN sz s1 ON s1.doc_id = d1
       |  JOIN sz s2 ON s2.doc_id = d2
       |  WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE)
       |        >= $JaccardMin)""".stripMargin
  }

  /** Full-corpus survivor closure (recursive CTE) — shared by the batch
    * `dedup_survivors` query and its maintained twin `delta_survivors`
    * (merge identity: the incrementally maintained view must equal this
    * recompute). Tiny graphs at oracle scale; the Spark side iterates
    * min-label star contraction, the shape that scales.
    */
  private def survivorsOracle: String =
    s"""${ngramPairsSql(withRecursive = true)},
       |nodes AS (SELECT d1 AS id FROM pairs
       |  UNION SELECT d2 FROM pairs),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
       |  UNION ALL SELECT d2, d1 FROM pairs),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
       |SELECT id AS doc_id, MIN(r) AS survivor FROM reach
       |GROUP BY id ORDER BY doc_id""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // MinHash signatures (6 hashes) per document — the sketch that feeds the
    // banding join in minhashCandidates; oracle recomputes the same mins.
    QueryDef("dedup_minhash",
      (s, d) => signatures(t(s, d, "documents"), 6).orderBy("doc_id"),
      Some(s"""$ShinglesCte
             |SELECT doc_id,
             |${(0 until 6).map(i => s"  min(md5('h$i|' || s)) AS mh$i")
                 .mkString(",\n")}
             |FROM ws GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // IVM × pipeline cross-feature #2 (after delta_dedup): the MINHASH
    // SIGNATURE view maintained incrementally. The delta arm runs the full
    // shingle→min pipeline over ONLY the new documents — the rewrite
    // commutes δ through the Generate (shingle explode) and repartition
    // nodes, and IvmAgg merges the per-doc minima (min = semilattice,
    // insert-only). At 100 TB a maintenance cycle shingles the new docs
    // and upserts their H digests; the corpus is never re-shingled. The
    // oracle replays the full-table signature build, so hash equality pins
    // merge(base view, δ partial) == recompute.
    QueryDef("delta_minhash",
      (s, d) => {
        import graft.ivm.{DeltaSources, IvmAgg}
        import org.apache.spark.sql.functions.expr
        val q = (df: DataFrame) => signatures(df, 6)
        val full = t(s, d, "documents")
        val basePred = DeltaSources.predicateFor("documents").get.sql
        val baseView = q(full.filter(expr(s"NOT ($basePred)")))
        IvmAgg.merge(baseView, IvmAgg.deltaPartial(q(full)))
          .orderBy("doc_id")
      },
      Some(s"""$ShinglesCte
             |SELECT doc_id,
             |${(0 until 6).map(i => s"  min(md5('h$i|' || s)) AS mh$i")
                 .mkString(",\n")}
             |FROM ws GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // 16-bit SimHash per document.
    QueryDef("dedup_simhash",
      (s, d) => simhash(t(s, d, "documents")).orderBy("doc_id"),
      Some {
        val votes = (0 until simhashBits).map { b =>
          val nib = s"(instr('0123456789abcdef', substr(m, ${b / 4 + 1}, 1)) - 1)"
          s"  SUM(2 * (($nib >> ${3 - b % 4}) & 1) - 1) AS s$b"
        }.mkString(",\n")
        val compose = (0 until simhashBits)
          .map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH wh AS (
           |  SELECT doc_id, md5(w) AS m FROM
           |    (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
           |v AS (SELECT doc_id,
           |$votes
           |FROM wh GROUP BY doc_id)
           |SELECT doc_id, CAST($compose AS BIGINT) AS simhash
           |FROM v ORDER BY doc_id""".stripMargin
      }),

    // Trigram-Jaccard near-dup pairs via the full dedup ladder: minhash
    // sketch → LSH banding candidates → exact Jaccard verify on candidates
    // only. The all-pairs inverted-index form (exactJaccardPairs) is Σdf²
    // in pair rows — quadratic in co-occurring docs — while this pipeline
    // is |candidates| × shingles: the shape that survives 100 TB.
    QueryDef("dedup_ngram",
      (s, d) => ngramLadderPairs(t(s, d, "documents")).orderBy("d1", "d2"),
      Some(s"""${ngramPairsSql(withRecursive = false)}
             |SELECT d1, d2, jaccard FROM pairs
             |ORDER BY d1, d2""".stripMargin)),

    // IVM × pipeline cross-feature #3: incremental CANDIDATE discovery —
    // the banding self-join maintained through the delta rewrite. The
    // signature table (itself maintainable, delta_minhash) is registered
    // as a delta source; δ of the raw band join expands to the three
    // delta-involving arms (δ⋈δ, base⋈δ, δ⋈base) — every output pair
    // touches a new document, and since band keys never change under
    // appends these are disjoint from the known base pairs, so a
    // post-delta distinct IS the new-pair set. The base×base join — the
    // corpus-quadratic part — appears in NO arm: at 100 TB a maintenance
    // cycle's candidate work is δsigs × sigs bucket-local, not sigs²
    // (pinned by PlanAuditSpec).
    QueryDef("delta_lsh_candidates",
      (s, d) => {
        import graft.ivm.{DeltaSources, Ivm}
        pinSigView(signatures(t(s, d, "documents"), 6))
          .createOrReplaceTempView("sig_delta_src")
        DeltaSources.register("sig_delta_src", "doc_id % 10 = 0")
        Ivm.delta(candidatePairsRaw(s.table("sig_delta_src"), 3, 2))
          .distinct()
          .orderBy("d1", "d2")
      },
      Some(s"""$ShinglesCte,
             |sig AS (SELECT doc_id,
             |${(0 until 6).map(i => s"  min(md5('h$i|' || s)) AS mh$i")
                 .mkString(",\n")}
             |  FROM ws GROUP BY doc_id),
             |bands AS (SELECT doc_id, mh0 || mh1 AS b0, mh2 || mh3 AS b1,
             |    mh4 || mh5 AS b2 FROM sig),
             |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             |  FROM bands a JOIN bands b ON a.doc_id < b.doc_id
             |    AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2))
             |SELECT d1, d2 FROM cand WHERE d1 % 10 = 0 OR d2 % 10 = 0
             |ORDER BY d1, d2""".stripMargin)),

    // Survivor selection — the step that turns near-dup PAIRS into an
    // actionable keep/drop decision: connected components of the near-dup
    // graph, survivor = min doc_id per component. The oracle replays the
    // same closure with a recursive CTE (tiny graphs at oracle scale; the
    // Spark side iterates min-label propagation, the shape that scales).
    QueryDef("dedup_survivors",
      (s, d) => connectedComponents(
          ngramLadderPairs(t(s, d, "documents")).select("d1", "d2"))
        .select(col("id").as("doc_id"), col("label").as("survivor"))
        .orderBy("doc_id"),
      Some(survivorsOracle)),

    // IVM × pipeline CAPSTONE (r7): the survivor view MAINTAINED under
    // appends, end to end. Cycle inputs: δ of the banding self-join over
    // the signature view (delta_lsh_candidates' plan — the base×base arm
    // appears nowhere; band keys are append-stable so a post-delta
    // distinct IS the new-candidate set), exact Jaccard verified on those
    // candidates only against endpoint-restricted shingle rows, then
    // [[incrementalSurvivors]] contracts the stored components and
    // micro-CCs just the new edges. The oracle is the FULL-corpus
    // recursive-CTE closure — the merge identity: maintained view ==
    // recompute, runner-less merges and component bridging included. At
    // 100 TB a cycle costs δ shingling + bucket-local candidate join +
    // an O(log) micro-CC over |new pairs|; the corpus pair graph is never
    // rebuilt and the stored view is probed (broadcast semi), never
    // shuffled.
    QueryDef("delta_survivors",
      (s, d) => {
        import graft.ivm.{DeltaSources, Ivm}
        val docs = t(s, d, "documents")
        val isNew = col("doc_id") % 10 === 0
        // the STORED view, genuinely stored: a real pipeline keeps the
        // survivor labels materialized between cycles — recomputing
        // the base CC inline every run both misrepresented the
        // maintained design and billed the bench ~16 s/run of
        // fixture rebuild (r13 verdict #7). Staged once per
        // box+content (fingerprinted on the corpus parquet), read
        // back like any stored table.
        val baseDir = graft.sources.Staging.stageOnce(d,
          "surv_base_labels", Seq(s"$d/documents.parquet")) { p =>
          connectedComponents(
            ngramLadderPairs(docs.filter(!isNew)).select("d1", "d2"))
            .write.parquet(p)
        }
        val baseLabels = s.read.parquet(baseDir)
        pinSigView(signatures(docs, 6))
          .createOrReplaceTempView("surv_sig_src")
        DeltaSources.register("surv_sig_src", "doc_id % 10 = 0")
        // pinned once: the δ-candidate plan (3-arm band join over the
        // full-corpus signature build) feeds `ends` (→ 3 shingle-scan
        // evaluations inside jaccardVerify) and the verify's cand side —
        // |δ-candidates|-sized, so the pin is cheap and saves ~4 full
        // signature rebuilds
        val newCand = Ivm.delta(
          candidatePairsRaw(s.table("surv_sig_src"), 3, 2)).distinct()
          .localCheckpoint(false)
        val ends = newCand.select(col("d1").as("doc_id"))
          .union(newCand.select(col("d2").as("doc_id"))).distinct()
        val ws = shingleRows(
          docs.join(broadcast(ends), Seq("doc_id"), "left_semi"))
        val newPairs = jaccardVerify(ws, newCand).select("d1", "d2")
        incrementalSurvivors(baseLabels, newPairs)
          .select(col("id").as("doc_id"), col("label").as("survivor"))
          .orderBy("doc_id")
      },
      Some(survivorsOracle)),

    // Benchmark decontamination over a synthetic split: docs with
    // doc_id % 10 = 3 play the benchmark, the rest the training corpus;
    // flagged = >= 10 distinct shared trigrams (catches the planted
    // duplicates/near-duplicates of benchmark docs plus heavy phrase
    // overlap). The oracle replays the shingle CTE + set join, so the
    // hash compare pins tokenization, per-doc distinct, and the overlap
    // count end to end.
    QueryDef("decontaminate",
      (s, d) => {
        val docs = t(s, d, "documents")
        decontaminate(
          docs.filter(col("doc_id") % 10 =!= 3),
          docs.filter(col("doc_id") % 10 === 3), 10)
          .orderBy("doc_id")
      },
      Some(DecontOracle)),

    // MAINTAINED decontamination gate — the incremental form a pipeline
    // runs as crawl snapshots land: the benchmark shingle set is
    // MATERIALIZED once (localCheckpoint → a static leaf whose delta is
    // empty under the static-table rule), so the δ rewrite reduces
    // δ(train ⋈ benchSet) to δtrain ⋈ benchSet — the cycle shingles ONLY
    // appended training docs against the stored set and upserts |δ docs|
    // rows; the corpus is never re-shingled and the base×base quadrant
    // appears in no arm (plan-pinned: exactly two parquet scans — base
    // view + δ arm — the empty-delta arms prune away). The bench split
    // (doc_id%10=3) is disjoint from the delta split (doc_id%10=0), so
    // the stored set really is static across the cycle. Oracle = the full
    // recompute (merge identity); HAVING applies at read time, after the
    // merge, where it is exact because doc-keyed groups only grow.
    QueryDef("delta_decontaminate",
      (s, d) => {
        import graft.ivm.{DeltaSources, IvmAgg}
        val docs = t(s, d, "documents")
        val benchSet = shingleRows(docs.filter(col("doc_id") % 10 === 3))
          .select("s").distinct().localCheckpoint(false)
        val train = docs.filter(col("doc_id") % 10 =!= 3)
        val q = (tr: DataFrame) => shingleRows(tr).join(benchSet, "s")
          .groupBy("doc_id").agg(count(lit(1)).as("overlap"))
        val basePred = DeltaSources.predicateFor("documents").get.sql
        val baseView = q(train.filter(expr(s"NOT ($basePred)")))
        IvmAgg.merge(baseView, IvmAgg.deltaPartial(q(train)))
          .filter(col("overlap") >= 10)
          .orderBy("doc_id")
      },
      Some(DecontOracle)),

    // Passage-level exact dedup over 8-word windows: per-document
    // duplicated-text stats (see [[passageStats]]). The oracle replays
    // windowing, digesting, the corpus-wide count, and the rejoin, so the
    // hash compare pins the whole two-pass shape end to end.
    QueryDef("dedup_passage",
      (s, d) => passageStats(t(s, d, "documents"), 8).orderBy("doc_id"),
      Some("""WITH w AS (
             |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |p AS (
             |  SELECT doc_id,
             |    md5(array_to_string(list_slice(ws, (i-1)*8+1, i*8), ' ')) AS pd
             |  FROM w, LATERAL unnest(generate_series(1, len(ws)//8)) AS t(i)),
             |dup AS (SELECT pd FROM p GROUP BY pd HAVING count(*) > 1),
             |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_passages
             |        FROM p JOIN dup USING (pd) GROUP BY doc_id),
             |n AS (SELECT doc_id,
             |        CAST(len(string_split(text, ' '))//8 AS BIGINT) AS n_passages
             |      FROM documents)
             |SELECT n.doc_id, n.n_passages,
             |  COALESCE(per.dup_passages, CAST(0 AS BIGINT)) AS dup_passages,
             |  CASE WHEN n.n_passages > 0
             |    THEN CAST(COALESCE(per.dup_passages, 0) AS DOUBLE) / n.n_passages
             |    ELSE 0.0 END AS dup_ratio
             |FROM n LEFT JOIN per USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Embedding near-dups (LSH-bucketed, integer-quantized score
    // threshold). 0.45 is calibrated to the synthetic embeddings (max pair
    // cos ≈ 0.51 — no true near-dups are planted); real corpora use ≥0.95
    // + wider bands. Hash-checked: band signatures, candidate set, and the
    // threshold score are all exact int64 on both engines.
    QueryDef("neardup_embedding",
      (s, d) => embeddingNearDups(t(s, d, "embeddings"), 0.45)
        .orderBy("d1", "d2"),
      Some {
        val minSdot =
          math.round(0.45 * Similarity.Scale * Similarity.Scale)
        s"""WITH ${Similarity.SqlOracle.quantCte},
           |${Similarity.SqlOracle.planesCte(8, 3, 64)},
           |${Similarity.SqlOracle.sigCte},
           |cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
           |  FROM sig a JOIN sig b
           |    ON a.band = b.band AND a.sig = b.sig
           |   AND a.vec_id < b.vec_id),
           |d AS (SELECT c.d1, c.d2, CAST(SUM(ea.q * eb.q) AS BIGINT) AS sdot
           |  FROM cand c
           |  JOIN e ea ON ea.vec_id = c.d1
           |  JOIN e eb ON eb.vec_id = c.d2 AND eb.pos = ea.pos
           |  GROUP BY c.d1, c.d2)
           |SELECT d1, d2, sdot FROM d WHERE sdot >= $minSdot
           |ORDER BY d1, d2""".stripMargin
      })
  )
}
