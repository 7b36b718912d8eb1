package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.{AsofJoin, Par, QueryDef, Tables}

/** LLM-training-data pipeline operators over the `documents` / `embeddings`
  * / `events` tables (SURVEY.md §2D north-star extensions).
  *
  * Design-for-100TB notes:
  *   - everything is hash-partitioned groupBy/window work — no driver-side
  *     collect, no all-pairs cross joins;
  *   - dedup survivor selection is a single groupBy(text) with map-side
  *     partial min/count (text-hash pre-aggregation would halve the shuffle
  *     for long docs; see Dedup.scala for the near-dup family);
  *   - word/char counts are pure arithmetic on codegen'd string built-ins
  *     (`length`/`replace`), no UDFs, so whole-stage codegen spans the scan.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Whitespace word count as pure arithmetic (identical in both engines,
    * immune to split() trailing-empty dialect differences).
    */
  private def wordCount(c: Column): Column =
    (length(c) - length(regexp_replace(c, lit(" "), lit(""))) + 1).cast("long")

  val all: Seq[QueryDef] = Seq(

    // D1 — exact dedup: one survivor (min doc_id) per distinct text, with
    // the duplicate count. Groups on the md5 DIGEST of the text, not the
    // text itself — at 100 TB the shuffle then carries 16-byte keys instead
    // of whole documents (md5 is collision-safe at corpus scale and
    // bit-identical in the oracle, so the grouping is equivalent).
    QueryDef("dedup_exact",
      (s, d) => t(s, d, "documents")
        .groupBy(md5(col("text").cast("binary")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
        .select("doc_id", "dup_count")
        .orderBy("doc_id"),
      Some("""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
             |FROM documents GROUP BY md5(text)
             |ORDER BY doc_id""".stripMargin)),

    // IVM × pipeline cross-feature: the dedup_exact VIEW maintained
    // incrementally — base-corpus digest groups merged with the mergeable
    // partial aggregated over ONLY the delta documents (IvmAgg: min →
    // least, count → add). Proves the maintenance ladder composes with the
    // pipeline operators, not just the TPC-H surface; the oracle aggregates
    // the full corpus directly, so hash equality pins the merge algebra.
    // At 100 TB each maintenance cycle shuffles 16-byte digests of the NEW
    // documents only; the merge is an upsert on the view's digest key.
    QueryDef("delta_dedup",
      (s, d) => {
        import graft.ivm.{DeltaSources, IvmAgg}
        val q = (df: DataFrame) => df
          .groupBy(md5(col("text").cast("binary")).as("digest"))
          .agg(min(col("doc_id")).as("doc_id"),
            count(lit(1)).as("dup_count"))
        val full = t(s, d, "documents")
        val basePred = DeltaSources.predicateFor("documents").get.sql
        val baseView = q(full.filter(expr(s"NOT ($basePred)")))
        IvmAgg.merge(baseView, IvmAgg.deltaPartial(q(full)))
          .select("doc_id", "dup_count")
          .orderBy("doc_id")
      },
      Some("""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
             |FROM documents GROUP BY md5(text)
             |ORDER BY doc_id""".stripMargin)),

    // LAKE × PIPELINE × DELETE (r9): the dedup ledger maintained through
    // a TAKEDOWN — the corpus lives as a real Delta table, and a
    // row-level DELETE (the GDPR/takedown shape every training-data
    // pipeline must absorb) lands after the ledger's cut. The signed
    // file diff surfaces the removed docs as retracts; the group-scoped
    // splice recomputes only the touched DIGEST groups — a COMPUTED key,
    // riding maintainAgg's row-wise `prep` hook (md5 applied uniformly
    // to the signed frames and the snapshot, so the touched-key set is
    // exact). min(doc_id) is the canonical non-retractable aggregate: a
    // deleted survivor must PROMOTE the next-smallest duplicate, which
    // subtraction-merging cannot do and the splice does exactly. The
    // oracle recomputes the post-delete ledger from first principles.
    QueryDef("delta_lake_dedup",
      (s, d) => {
        import graft.ivm.DeltaLakeSnapshots
        val dir = graft.sources.Staging.stageOnce(d,
          "deltalake_documents_s1", Seq(s"$d/documents.parquet")) { p =>
          val docs = t(s, d, "documents")
          graft.sources.DeltaLake.stageCommit(s, p,
            docs.filter(col("doc_id") % 10 =!= 0), Seq.empty, 0L)
          graft.sources.DeltaLake.stageCommit(s, p,
            docs.filter(col("doc_id") % 10 === 0), Seq.empty, 1L)
          graft.sources.DeltaLake.stageDeleteCommit(s, p,
            col("doc_id") % 17 === 0, 2L)
        }
        val prep = (df: DataFrame) => df.withColumn("digest",
          md5(col("text").cast("binary")))
        val aggOf = (df: DataFrame) => df.groupBy("digest")
          .agg(min(col("doc_id")).as("doc_id"),
            count(lit(1)).as("dup_count"))
        DeltaLakeSnapshots.track(s, "dl_documents", dir, at = Some(1L))
        val stored = aggOf(prep(graft.sources.DeltaLake
          .snapshot(s, dir, version = Some(1L))))
        DeltaLakeSnapshots.maintainAgg(s, "dl_documents", stored,
          Seq("digest"), aggOf, prep)
          .select("doc_id", "dup_count")
          .orderBy("doc_id")
      },
      Some("""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
             |FROM documents
             |WHERE NOT (doc_id % 17 = 0)
             |GROUP BY md5(text)
             |ORDER BY doc_id""".stripMargin)),

    // D2 — per-language corpus stats.
    QueryDef("text_stats",
      (s, d) => t(s, d, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("total_chars"),
          sum(wordCount(col("text"))).as("total_words"),
          (dsum(length(col("text"))) / count(lit(1)).cast("double"))
            .as("avg_chars"))
        .orderBy("lang"),
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
             |  CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS BIGINT) AS total_words,
             |  CAST(SUM(CAST(LENGTH(text) AS DECIMAL(18,2))) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS avg_chars
             |FROM documents GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // Gap-based sessionization, batch form (the streaming twin lives in
    // graft.streaming.EventStreams.sessionize): break when a user is idle
    // > 30 min, session id = running count of breaks. All arithmetic on the
    // raw int64 epoch-nanos ts (exact in both engines; DuckDB recovers the
    // same value via epoch_ns). One shuffle by user_id serves both windows
    // and the final aggregate — at scale this is the sessionization plan:
    // state never materializes, it's a sort within user partitions.
    QueryDef("sessions_gap",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // µs precision on BOTH sides: Spark floors the raw ns long, DuckDB's
        // TIMESTAMP is µs natively — identical int64s end to end
        val byUser = Window.partitionBy("user_id").orderBy("tus")
        val gapUs = 30L * 60 * 1000000L
        val brk = when(
          col("tus") - lag(col("tus"), 1).over(byUser) > gapUs ||
            lag(col("tus"), 1).over(byUser).isNull, lit(1L)).otherwise(lit(0L))
        val ev = t(s, d, "events")
        ev.select(col("user_id"), Tables.tsUs(ev).as("tus"), col("value"))
          .select(col("user_id"), col("tus"), col("value"), brk.as("brk"))
          .select(col("user_id"), col("tus"), col("value"),
            sum(col("brk")).over(byUser).as("sid"))
          .groupBy("user_id", "sid")
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"),
            min(col("tus")).as("start_us"), max(col("tus")).as("end_us"))
          .orderBy("user_id", "sid")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS tus, value FROM events),
             |m AS (
             |  SELECT user_id, tus, value,
             |    CASE WHEN lag(tus) OVER w IS NULL
             |           OR tus - lag(tus) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
             |s AS (
             |  SELECT user_id, tus, value,
             |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tus)
             |      AS BIGINT) AS sid
             |  FROM m)
             |SELECT user_id, sid, COUNT(*) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |  MIN(tus) AS start_us, MAX(tus) AS end_us
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, sid""".stripMargin)),

    // Time-RANGE window frame: per user, each event carries the count and
    // exact decimal sum of the user's events in the trailing hour —
    // `RANGE BETWEEN 3600e6 µs PRECEDING AND CURRENT ROW` over the µs
    // epoch (both engines floor ns→µs; §7.5). One shuffle by user_id, the
    // frame is a sliding bound over the partition sort — no self-join, no
    // per-row probe (the naive correlated form is quadratic per user).
    // Equal-timestamp peers aggregate identically in both engines (RANGE
    // frames include peers), so ties don't break determinism.
    QueryDef("window_range",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("tus")
          .rangeBetween(-3600L * 1000000L, 0L)
        val ev = t(s, d, "events")
        ev.select(col("event_id"), col("user_id"),
            Tables.tsUs(ev).as("tus"), col("value"))
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("n_1h"),
            sum(col("value").cast(DecimalType(18, 2))).over(w)
              .cast("double").as("sum_1h"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  COUNT(*) OVER w AS n_1h,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             |    AS sum_1h
             |FROM (SELECT event_id, user_id, epoch_us(ts) AS tus, value
             |      FROM events)
             |WINDOW w AS (PARTITION BY user_id ORDER BY tus
             |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // As-of join (graft.engine.AsofJoin): each click event annotated with
    // the user's latest purchase at-or-before it — one shuffle by user_id,
    // merge-form carry-forward, never a per-row range probe. The oracle
    // replays the identical union-tag + last_value(IGNORE NULLS) plan;
    // ordering by the raw ns long (Spark) and µs TIMESTAMP (DuckDB) is
    // order-isomorphic, and the output carries only ids/doubles (§7.5).
    QueryDef("events_asof",
      (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            col("event_id").as("p_event_id"), col("value").as("p_value"))
        AsofJoin.asof(clicks, purchases, "user_id", "ts", "ts",
            Seq("p_event_id", "p_value"), rightOrd = Some("p_event_id"))
          .select("event_id", "user_id", "p_event_id", "p_value")
          .orderBy("event_id")
      },
      Some("""WITH u AS (
             |  SELECT event_id, user_id, ts,
             |    CAST(NULL AS BIGINT) AS p_event_id,
             |    CAST(NULL AS DOUBLE) AS p_value, 1 AS side
             |  FROM events WHERE event_type = 'click'
             |  UNION ALL
             |  SELECT event_id, user_id, ts, event_id, value, 0
             |  FROM events WHERE event_type = 'purchase'),
             |w AS (
             |  SELECT event_id, user_id, side,
             |    last_value(p_event_id IGNORE NULLS) OVER win AS p_event_id,
             |    last_value(p_value IGNORE NULLS) OVER win AS p_value
             |  FROM u
             |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, event_id
             |                 ROWS UNBOUNDED PRECEDING))
             |SELECT event_id, user_id, p_event_id, p_value FROM w
             |WHERE side = 1
             |ORDER BY event_id""".stripMargin)),

    // MAINTAINED AS-OF VIEW (r6): the events_asof temporal lookup kept
    // incremental under event appends via the key-scoped rung — new
    // events touch a sliver of users, and an appended purchase RETRACTS
    // every later click's old match for that user (as-of is not
    // append-monotone, so this genuinely needs the signed recompute, not
    // the envelope). deltaKeyScoped recomputes ONLY the affected users'
    // merge-windows — both restricted recomputes read
    // broadcast-semi-join-pruned scans — the difference at 100 TB between
    // re-sorting the corpus and re-sorting the touched users. The union+
    // window form keeps `user_id` name-traceable for the validator; the
    // oracle derives the signed pair from first principles.
    QueryDef("delta_asof",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.ivm.Ivm
        val q = (ev: DataFrame) => {
          val u = ev.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts"),
              lit(null).cast("long").as("pin_event_id"),
              lit(null).cast("double").as("pin_value"), lit(1).as("side"))
            .unionByName(ev.filter(col("event_type") === "purchase")
              .select(col("event_id"), col("user_id"), col("ts"),
                col("event_id").as("pin_event_id"),
                col("value").as("pin_value"), lit(0).as("side")))
          val w = Window.partitionBy("user_id")
            .orderBy(col("ts"), col("side"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          u.select(col("event_id"), col("user_id"), col("side"),
              last(col("pin_event_id"), ignoreNulls = true).over(w)
                .as("p_event_id"),
              last(col("pin_value"), ignoreNulls = true).over(w)
                .as("p_value"))
            .filter(col("side") === 1)
            .select("event_id", "user_id", "p_event_id", "p_value")
        }
        val sd = Ivm.deltaKeyScoped(q, t(s, d, "events"), Seq("user_id"))
        sd.netWithSign
          .orderBy("event_id", "sign")
      },
      Some("""WITH u AS (
             |  SELECT event_id, user_id, ts,
             |    CAST(NULL AS BIGINT) AS pin_event_id,
             |    CAST(NULL AS DOUBLE) AS pin_value, 1 AS side,
             |    (ts >= TIMESTAMP '2024-01-28 00:00:00') AS isdelta
             |  FROM events WHERE event_type = 'click'
             |  UNION ALL
             |  SELECT event_id, user_id, ts, event_id, value, 0,
             |    (ts >= TIMESTAMP '2024-01-28 00:00:00')
             |  FROM events WHERE event_type = 'purchase'),
             |qfull AS (
             |  SELECT event_id, user_id, p_event_id, p_value FROM (
             |    SELECT event_id, user_id, side,
             |      last_value(pin_event_id IGNORE NULLS) OVER win
             |        AS p_event_id,
             |      last_value(pin_value IGNORE NULLS) OVER win AS p_value
             |    FROM u
             |    WINDOW win AS (PARTITION BY user_id
             |      ORDER BY ts, side, event_id ROWS UNBOUNDED PRECEDING))
             |  WHERE side = 1),
             |qbase AS (
             |  SELECT event_id, user_id, p_event_id, p_value FROM (
             |    SELECT event_id, user_id, side,
             |      last_value(pin_event_id IGNORE NULLS) OVER win
             |        AS p_event_id,
             |      last_value(pin_value IGNORE NULLS) OVER win AS p_value
             |    FROM u WHERE NOT isdelta
             |    WINDOW win AS (PARTITION BY user_id
             |      ORDER BY ts, side, event_id ROWS UNBOUNDED PRECEDING))
             |  WHERE side = 1),
             |ins AS (SELECT * FROM qfull EXCEPT ALL SELECT * FROM qbase),
             |ret AS (SELECT * FROM qbase EXCEPT ALL SELECT * FROM qfull)
             |SELECT event_id, user_id, p_event_id, p_value,
             |  CAST(1 AS BIGINT) AS sign FROM ins
             |UNION ALL
             |SELECT event_id, user_id, p_event_id, p_value,
             |  CAST(-1 AS BIGINT) AS sign FROM ret
             |ORDER BY event_id, sign""".stripMargin)),

    // Training-sample prep: split each document into fixed 50-word windows
    // (stride = width, no overlap). explode(sequence) + slice + array_join
    // are all per-row compiled expressions over the already-split array —
    // embarrassingly parallel, no shuffle before the final presentation
    // sort. 1-based inclusive slice clamps at the tail in both engines.
    QueryDef("doc_chunks",
      (s, d) => {
        val width = 50
        val w = split(col("text"), " ")
        Par.spread(t(s, d, "documents"))
          .select(col("doc_id"), w.as("w"))
          .select(col("doc_id"), col("w"),
            explode(sequence(lit(0L),
              ceil(size(col("w")) / lit(width.toDouble)).cast("long") - 1))
              .as("chunk_id"))
          .select(col("doc_id"), col("chunk_id"),
            array_join(slice(col("w"),
              (col("chunk_id") * width + 1).cast("int"), lit(width)), " ")
              .as("chunk"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
             |            FROM documents),
             |e AS (SELECT doc_id, w,
             |        unnest(generate_series(0,
             |          CAST(ceil(len(w) / 50.0) AS BIGINT) - 1)) AS i
             |      FROM d)
             |SELECT doc_id, i AS chunk_id,
             |  array_to_string(w[(i*50+1):(i*50+50)], ' ') AS chunk
             |FROM e
             |ORDER BY doc_id, chunk_id""".stripMargin)),

    // Deterministic stratified sampling: per-language keep rates driven by
    // an md5 hash of the doc id — reproducible across engines and runs
    // (the property a 100 TB corpus build needs: re-running the pipeline
    // selects the SAME sample, no RNG state to ship). en is downsampled
    // harder than the tail languages, the usual rebalancing shape.
    QueryDef("sample_stratified",
      (s, d) => {
        val bucket = (conv(substring(
            md5(col("doc_id").cast("string").cast("binary")), 1, 2), 16, 10)
          .cast("long") % 100)
        val rate = when(col("lang") === "en", lit(20)).otherwise(lit(40))
        t(s, d, "documents")
          .filter(bucket < rate)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang FROM documents
             |WHERE ((instr('0123456789abcdef',
             |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             |     + (instr('0123456789abcdef',
             |          substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 100
             |      < CASE WHEN lang = 'en' THEN 20 ELSE 40 END
             |ORDER BY doc_id""".stripMargin)),

    // Domain remixing (r6): rebalance the corpus toward target per-domain
    // weights with DETERMINISTIC hash-threshold sampling — keep doc iff
    // the first 8 md5 hex chars of its id compare below the domain's
    // threshold (lexicographic compare of fixed-width lowercase hex ==
    // the uint32 compare, and it replays in any engine byte-for-byte; no
    // rand(), so the sample is stable across retries/stragglers — the
    // property that makes a 100 TB resample reproducible). Even-numbered
    // sources keep 1/2, odd keep 1/4. The report pins the exact kept SET,
    // not just its size, via the kept-doc_id checksum.
    QueryDef("domain_mix",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8)
        val srcNum = regexp_replace(col("source"), lit("src"), lit(""))
          .cast("int")
        val thr = when(srcNum % 2 === 0, lit("80000000"))
          .otherwise(lit("40000000"))
        t(s, d, "documents")
          .select(col("source"), col("doc_id"), (h < thr).as("keep"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("keep"), col("doc_id"))).as("kept_id_sum"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_kept,
             |  CAST(SUM(CASE WHEN keep THEN doc_id END) AS BIGINT)
             |    AS kept_id_sum
             |FROM (
             |  SELECT source, doc_id,
             |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
             |      CASE WHEN CAST(REPLACE(source, 'src', '') AS INT) % 2 = 0
             |        THEN '80000000' ELSE '40000000' END AS keep
             |  FROM documents)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Sketch-based corpus stats: HLL distinct texts + t-digest length
    // quantiles per language. At 100 TB exact COUNT(DISTINCT text) is a
    // full-text shuffle; the sketches are fixed-size mergeable state with
    // map-side partial aggregation. No oracle (sketch internals differ
    // across engines) — PipelineSpec pins both against exact ground truth
    // within tolerance instead.
    QueryDef("approx_stats",
      (s, d) => t(s, d, "documents")
        .groupBy("lang")
        .agg(
          approx_count_distinct(col("text"), rsd = 0.01).as("approx_texts"),
          percentile_approx(length(col("text")), lit(0.5), lit(10000))
            .cast("long").as("p50_chars"),
          percentile_approx(length(col("text")), lit(0.9), lit(10000))
            .cast("long").as("p90_chars"))
        .orderBy("lang"),
      None),

    // The DETERMINISTIC companion to approx_stats (r16): the same
    // grouping with EXACT distinct-count and EXACT median,
    // hash-checked against DuckDB — the oracle row the sketch query
    // legitimately cannot have (HLL/t-digest states are
    // engine-internal; approx_stats stays rows-only, tolerance-pinned
    // in PipelineSpec). Median rides as 2×median cast to BIGINT: on
    // integer lengths the 0.5-interpolation is exactly a half-integer
    // in both engines, so the doubling is engine-independent where a
    // raw fp compare would not be. Scale note: this is the SMALL-DATA
    // shape — exact COUNT(DISTINCT) shuffles every distinct value and
    // exact percentile materializes each group, which is precisely
    // why the 100 TB path is the mergeable fixed-size sketch twin.
    QueryDef("approx_stats_exact",
      (s, d) => t(s, d, "documents")
        .groupBy("lang")
        .agg(
          countDistinct(col("text")).as("exact_texts"),
          expr("CAST(percentile(length(text), 0.5) * 2 AS BIGINT)")
            .as("median2_chars"),
          min(length(col("text"))).cast("long").as("min_chars"),
          max(length(col("text"))).cast("long").as("max_chars"),
          sum(length(col("text"))).cast("long").as("sum_chars"))
        .orderBy("lang"),
      Some("""SELECT lang,
             |  CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_texts,
             |  CAST(quantile_cont(length(text), 0.5) * 2 AS BIGINT)
             |    AS median2_chars,
             |  CAST(MIN(length(text)) AS BIGINT) AS min_chars,
             |  CAST(MAX(length(text)) AS BIGINT) AS max_chars,
             |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
             |FROM documents
             |GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // Time-window range join (interval self-join): pairs of events from
    // the same user within 6 hours of each other — the co-occurrence /
    // session-neighborhood primitive, via graft.engine.RangeJoin's
    // bin-bucketed equi-join (see its scaladoc for why the naive BETWEEN
    // theta join is a 100 TB non-starter). The ordered-pair tie-break
    // (t1 < t2, event_id on equal times) de-mirrors the symmetric match.
    QueryDef("range_join",
      (s, d) => {
        // µs domain on both sides: Spark floors the raw ns long, DuckDB's
        // epoch_us floors its TIMESTAMP — identical int64s (§7.5)
        val W = 21600000000L // 6 h in µs
        val raw = t(s, d, "events")
        val ev = raw.select(col("event_id"), col("user_id"),
          Tables.tsUs(raw).as("tus"))
        graft.engine.RangeJoin.within(
            ev.select(col("user_id"), col("event_id").as("e1"),
              col("tus").as("t1")),
            ev.select(col("user_id"), col("event_id").as("e2"),
              col("tus").as("t2")),
            "user_id", "t1", "t2", W)
          .filter(col("t1") < col("t2") ||
            (col("t1") === col("t2") && col("e1") < col("e2")))
          .select(col("user_id"), col("e1"), col("e2"),
            (col("t2") - col("t1")).as("dt"))
          .orderBy("e1", "e2")
      },
      Some("""WITH u AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS tus FROM events)
             |SELECT a.user_id, a.event_id AS e1, b.event_id AS e2,
             |  b.tus - a.tus AS dt
             |FROM u a JOIN u b ON a.user_id = b.user_id
             |  AND (a.tus < b.tus OR (a.tus = b.tus AND a.event_id < b.event_id))
             |  AND b.tus <= a.tus + 21600000000
             |ORDER BY e1, e2""".stripMargin)),

    // IVM × pipeline cross-feature #4 (round 5): the RANGE JOIN view
    // maintained through the delta rewrite. RangeJoin.within desugars to
    // Generate(explode of 2 bins) → inner equi-join on (key, bin) →
    // exact-interval Filter — every node in the algebraic envelope, so
    // δ(range join) expands to the 3 disjoint arms (δ×δ, base×δ, δ×base)
    // with NO new engine code: a day's new events pair against the base
    // corpus bucket-locally, the base×base arm — the quadratic bulk — is
    // never re-joined. The oracle derives the same delta from first
    // principles: pairs with at least one side in the δ partition.
    QueryDef("delta_range_join",
      (s, d) => {
        val W = 21600000000L // 6 h in µs
        val raw = t(s, d, "events")
        val ev = raw.select(col("event_id"), col("user_id"),
          Tables.tsUs(raw).as("tus"))
        graft.ivm.Ivm.delta(
            graft.engine.RangeJoin.within(
                ev.select(col("user_id"), col("event_id").as("e1"),
                  col("tus").as("t1")),
                ev.select(col("user_id"), col("event_id").as("e2"),
                  col("tus").as("t2")),
                "user_id", "t1", "t2", W)
              .filter(col("t1") < col("t2") ||
                (col("t1") === col("t2") && col("e1") < col("e2")))
              .select(col("user_id"), col("e1"), col("e2"),
                (col("t2") - col("t1")).as("dt")))
          .orderBy("e1", "e2")
      },
      Some("""WITH u AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS tus,
             |    (ts >= TIMESTAMP '2024-01-28 00:00:00') AS isdelta
             |  FROM events)
             |SELECT a.user_id, a.event_id AS e1, b.event_id AS e2,
             |  b.tus - a.tus AS dt
             |FROM u a JOIN u b ON a.user_id = b.user_id
             |  AND (a.tus < b.tus OR (a.tus = b.tus AND a.event_id < b.event_id))
             |  AND b.tus <= a.tus + 21600000000
             |  AND (a.isdelta OR b.isdelta)
             |ORDER BY e1, e2""".stripMargin)),

    // SEQUENCE PACKING (round 5) — the causal-LM pretraining batching op:
    // concatenate each source's documents (doc_id order) into one token
    // stream, chunk every B tokens, and report where each document lands —
    // its sequence id, the offset inside that sequence, and how many
    // sequences it straddles. All integer window arithmetic (running token
    // sum per source), so it is bit-deterministic and oracle-checkable.
    // Scale shape: the window partitions by SOURCE (per-domain shards —
    // a production packer's natural unit), so the plan is one hash
    // shuffle + per-partition sort, no global single-partition window; at
    // 100 TB each source's stream packs independently and in parallel.
    QueryDef("seq_pack",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val B = 2048L
        val w = Window.partitionBy("source").orderBy("doc_id")
        t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            wordCount(col("text")).as("tok"))
          .withColumn("cum", sum(col("tok")).over(w))
          .select(col("doc_id"), col("source"), col("tok"),
            expr(s"(cum - tok) div $B").as("seq_id"),
            ((col("cum") - col("tok")) % B).as("seq_offset"),
            expr(s"(cum - 1) div $B - (cum - tok) div $B + 1").as("n_seqs"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, source,
             |    CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
             |      AS BIGINT) AS tok
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, source, tok,
             |    CAST(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id)
             |      AS BIGINT) AS cum
             |  FROM p)
             |SELECT doc_id, source, tok,
             |  CAST((cum - tok) // 2048 AS BIGINT) AS seq_id,
             |  CAST((cum - tok) % 2048 AS BIGINT) AS seq_offset,
             |  CAST((cum - 1) // 2048 - (cum - tok) // 2048 + 1 AS BIGINT)
             |    AS n_seqs
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Corpus composition report (round 5): docs × tokens by source and
    // integer length bucket — the shard-level summary a data curator reads
    // before mixing. Integer-division buckets (512-char steps) are exact
    // in both engines; one map-side-combined aggregate, scan-dominated.
    QueryDef("corpus_stats",
      (s, d) => t(s, d, "documents")
        .groupBy(col("source"),
          expr("cast(length(text) as bigint) div 512").as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(wordCount(col("text"))).as("total_tokens"),
          min(length(col("text")).cast("long")).as("min_chars"),
          max(length(col("text")).cast("long")).as("max_chars"))
        .orderBy("source", "len_bucket"),
      Some("""SELECT source,
             |  CAST(LENGTH(text) AS BIGINT) // 512 AS len_bucket,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)
             |    AS BIGINT) AS total_tokens,
             |  CAST(MIN(LENGTH(text)) AS BIGINT) AS min_chars,
             |  CAST(MAX(LENGTH(text)) AS BIGINT) AS max_chars
             |FROM documents GROUP BY 1, 2
             |ORDER BY source, len_bucket""".stripMargin)),

    // Ordered funnel: per user, first 'view', then first 'click' AFTER it,
    // then first 'purchase' after that — the sequential-pattern primitive
    // behind conversion analysis. Three chained keyed joins + min
    // aggregates, all hash-partitioned by user_id (one logical key, so at
    // scale the exchanges reuse the same partitioning); later stages left-
    // join so partial funnels surface with NULL step times.
    QueryDef("events_funnel",
      (s, d) => {
        val raw = t(s, d, "events")
        val ev = raw.select(col("user_id"), col("event_type"),
          Tables.tsUs(raw).as("tus")) // µs domain, §7.5
        def step(typ: String) = ev.filter(col("event_type") === typ)
        val s1 = step("view").groupBy("user_id").agg(min("tus").as("t1"))
        val s2 = step("click").join(s1, "user_id")
          .filter(col("tus") > col("t1"))
          .groupBy("user_id").agg(min("tus").as("t2"))
        val s3 = step("purchase").join(s2, "user_id")
          .filter(col("tus") > col("t2"))
          .groupBy("user_id").agg(min("tus").as("t3"))
        s1.join(s2, Seq("user_id"), "left")
          .join(s3, Seq("user_id"), "left")
          .orderBy("user_id")
      },
      Some("""WITH s1 AS (
             |  SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |s2 AS (
             |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2 FROM events e
             |  JOIN s1 ON e.user_id = s1.user_id AND epoch_us(e.ts) > s1.t1
             |  WHERE e.event_type = 'click' GROUP BY e.user_id),
             |s3 AS (
             |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3 FROM events e
             |  JOIN s2 ON e.user_id = s2.user_id AND epoch_us(e.ts) > s2.t2
             |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
             |SELECT s1.user_id, t1, t2, t3 FROM s1
             |LEFT JOIN s2 ON s1.user_id = s2.user_id
             |LEFT JOIN s3 ON s1.user_id = s3.user_id
             |ORDER BY s1.user_id""".stripMargin)),

    // D4 — hourly event rollup. Output DATE + BIGINT hour (never raw ns ts,
    // SURVEY §7.5). At scale: partial agg then a (day,hr,type) shuffle.
    QueryDef("events_hourly",
      (s, d) => {
        val ev = t(s, d, "events")
        ev.groupBy(
            to_date(Tables.tsMicros(ev)).as("day"),
            hour(Tables.tsMicros(ev)).cast("long").as("hr"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
          .orderBy("day", "hr", "event_type")
      },
      Some("""SELECT CAST(ts AS DATE) AS day,
             |  CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hr, event_type,
             |  COUNT(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2, 3
             |ORDER BY day, hr, event_type""".stripMargin))
  )
}
