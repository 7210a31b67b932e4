package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Decontam, Dedup, Multimodal, Packing, Pii, Sampling, Similarity, TextAnalysis, TrainingMix}
import graft.pipeline.Ingest
import graft.query.Retriever
import graft.synth.TranscriptGen

/** Driver contract — one entry per implemented operator (SURVEY.md §2), with
  * DuckDB oracle SQL where the semantics are ANSI-expressible. KG-pipeline
  * operators that hinge on uuid5/minhash/murmur run as rows-only checks and
  * are covered by the golden-triple E2E in `sbt -batch test` instead.
  *
  * Oracle-parity rules applied throughout: identical column names (lowercase),
  * aligned types (counts → BIGINT, ranks → INT), deterministic total-order
  * tie-breaks on every rank/limit, and integer-derived doubles (exact IEEE
  * division) or round(x, k) applied identically on both sides.
  */
object SparkEntry {

  private def read(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Derived transcripts view over the driver's `events` table — the same
    * derivation is inlined as a CTE in the oracle SQL, so KG operators are
    * DuckDB-checkable. (input_hint shape: conv_id, turn_idx, role, text, ts.)
    */
  private def transcriptsFromEvents(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    read(s, dir, "events").select(
      col("user_id").cast("string").as("conv_id"),
      (row_number().over(w) - 1).cast("int").as("turn_idx"),
      col("event_type").as("role"),
      col("props").as("text"),
      col("ts"))
  }

  private val transcriptsCte =
    """WITH transcripts AS (
      |  SELECT CAST(user_id AS VARCHAR) AS conv_id,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
      |         event_type AS role, props AS text, ts
      |  FROM events)""".stripMargin

  private val entityVocab = Seq("spark", "customer", "vector", "window", "stream", "table")

  private def docTokens(s: SparkSession, dir: String, maxDocId: Long): DataFrame =
    read(s, dir, "documents").filter(col("doc_id") < maxDocId)
      .select(col("doc_id"),
        array_distinct(array_remove(split(lower(col("text")), "[^a-z0-9]+"), "")).as("toks"))

  /** Cosine-similarity graph over the first 200 embedding vectors — the
    * shared fixture for the graph-analytics driver rows (degrees, k-hop,
    * PageRank, triangles). O(n²) edge gen is intentional at n=200 for exact
    * DuckDB comparability (same ruling as kg_connected_components); the
    * pipeline-scale path generates candidate edges via blocking
    * (EntityDedup.candidateEdges).
    */
  private def simEdges(s: SparkSession, dir: String): DataFrame = {
    val v = read(s, dir, "embeddings").filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(graft.functions.VectorOps.cosine(col("a.emb"), col("b.emb")) >= 0.25)
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
  }

  /** The matching DuckDB CTE prefix for [[simEdges]]-based oracles. */
  private val simEdgesCte =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings WHERE vec_id < 200),
      |e AS (
      |  SELECT a.vec_id AS s, b.vec_id AS d FROM v a, v b
      |  WHERE a.vec_id < b.vec_id
      |    AND list_cosine_similarity(a.emb, b.emb) >= 0.25),
      |sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e)""".stripMargin

  /** Unrolled Brandes oracle for graph_betweenness: forward σ levels
    * l0..lH with cumulative visited sets, backward δ levels bH..b1 (each
    * fed by the level above through the contribution join cD), then
    * Σδ/2 rounded. Generated mechanically so the horizon lives in ONE
    * constant shared with the Spark side.
    */
  private def betweennessSql(h: Int): String = {
    val sb = new StringBuilder
    // every CTE MATERIALIZED: DuckDB otherwise inlines each reference, and a
    // 10-level unroll re-expands the whole prefix exponentially (hundreds of
    // parquet re-scans — the gate died on fd exhaustion before this)
    sb ++= simEdgesCte
      .replace("WITH v AS (", "WITH v AS MATERIALIZED (")
      .replace("e AS (", "e AS MATERIALIZED (")
      .replace("sym AS (", "sym AS MATERIALIZED (")
    sb ++= ",\nl0 AS MATERIALIZED (SELECT s AS src_id, s AS v, CAST(1 AS BIGINT) AS sigma" +
      " FROM (SELECT DISTINCT s FROM sym) t),\n"
    sb ++= "vis0 AS MATERIALIZED (SELECT src_id, v FROM l0)"
    for (d <- 1 to h) {
      sb ++= s""",
l$d AS MATERIALIZED (
  SELECT p.src_id, y.d AS v, CAST(sum(p.sigma) AS BIGINT) AS sigma
  FROM l${d - 1} p JOIN sym y ON p.v = y.s
  WHERE NOT EXISTS (SELECT 1 FROM vis${d - 1} x
                    WHERE x.src_id = p.src_id AND x.v = y.d)
  GROUP BY p.src_id, y.d),
vis$d AS MATERIALIZED (SELECT * FROM vis${d - 1} UNION ALL SELECT src_id, v FROM l$d)"""
    }
    sb ++= s",\nb$h AS MATERIALIZED (SELECT src_id, v, CAST(0 AS DOUBLE) AS delta FROM l$h)"
    for (d <- h to 1 by -1) {
      sb ++= s""",
c$d AS MATERIALIZED (
  SELECT w.src_id, y.d AS v,
         sum(CAST(u.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE)
             * (1 + bw.delta)) AS delta
  FROM l$d w JOIN b$d bw ON w.src_id = bw.src_id AND w.v = bw.v
  JOIN sym y ON w.v = y.s
  JOIN l${d - 1} u ON u.src_id = w.src_id AND u.v = y.d
  GROUP BY w.src_id, y.d),
b${d - 1} AS MATERIALIZED (
  SELECT p.src_id, p.v, coalesce(c.delta, 0) AS delta
  FROM l${d - 1} p LEFT JOIN c$d c ON p.src_id = c.src_id AND p.v = c.v)"""
    }
    val accs = (1 to h).map(d => s"SELECT src_id, v, delta FROM b$d")
      .mkString("\n  UNION ALL ")
    sb ++= s"""
SELECT v AS id, round(sum(delta) / 2, 6) AS betweenness
FROM ($accs)
GROUP BY v ORDER BY id"""
    sb.toString
  }

  /** Unrolled HyperBall oracle: per-vertex p=4 HLL registers of {v} (the
    * identical md5 hex arithmetic as sketch_hll_registers), then `rounds`
    * register-max merge rounds over the symmetric adjacency. MATERIALIZED
    * for the same inlining reason as [[betweennessSql]].
    */
  private def hyperBallSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= simEdgesCte
      .replace("WITH v AS (", "WITH v AS MATERIALIZED (")
      .replace("e AS (", "e AS MATERIALIZED (")
      .replace("sym AS (", "sym AS MATERIALIZED (")
    sb ++= """,
verts AS MATERIALIZED (SELECT DISTINCT s AS id FROM sym),
hx AS MATERIALIZED (SELECT id, md5(CAST(id AS VARCHAR)) AS h FROM verts),
r0 AS MATERIALIZED (
  SELECT id, ('0x' || substr(h, 1, 1))::INT AS register,
    CASE WHEN regexp_replace(substr(h, 2, 15), '^0*', '') = '' THEN 61
         ELSE (length(substr(h, 2, 15))
               - length(regexp_replace(substr(h, 2, 15), '^0*', ''))) * 4
              + CASE substr(regexp_replace(substr(h, 2, 15), '^0*', ''), 1, 1)
                  WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                  WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                  WHEN '7' THEN 1 ELSE 0 END + 1
    END AS max_rho FROM hx)"""
    for (d <- 1 to rounds) {
      sb ++= s""",
r$d AS MATERIALIZED (
  SELECT id, register, max(max_rho) AS max_rho FROM (
    SELECT y.d AS id, r.register, r.max_rho
    FROM r${d - 1} r JOIN sym y ON r.id = y.s
    UNION ALL SELECT id, register, max_rho FROM r${d - 1}) t
  GROUP BY id, register)"""
    }
    sb ++= s"\nSELECT id, register, CAST(max_rho AS INT) AS max_rho" +
      s" FROM r$rounds ORDER BY id, register"
    sb.toString
  }

  /** Unrolled BPE-training oracle: word-count table → sentinel-wrapped
    * symbol strings, then `rounds` chained (pair-count, top-1, greedy
    * replace) CTE triples — the identical representation and total order
    * the Spark side uses. `finalSelect` picks merges vs vocabulary.
    */
  private def bpeSql(rounds: Int, finalSelect: String): String = {
    val sb = new StringBuilder
    sb ++= """WITH tok AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^\p{L}0-9]+'), x -> x <> '') AS t
  FROM documents),
wt AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w),
w0 AS MATERIALIZED (
  SELECT array_to_string(list_transform(string_split(w, ''), c -> '<' || c || '>'), ' ') AS s,
         freq
  FROM wt)"""
    for (r <- 1 to rounds) {
      sb ++= s""",
p$r AS MATERIALIZED (
  SELECT pair, sum(freq) AS cnt FROM (
    SELECT unnest(list_transform(range(1, greatest(len(ss), 1)),
                                 i -> ss[i] || ' ' || ss[i+1])) AS pair, freq
    FROM (SELECT string_split(s, ' ') AS ss, freq FROM w${r - 1})) GROUP BY pair),
m$r AS MATERIALIZED (SELECT $r AS round, pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
w$r AS MATERIALIZED (
  SELECT CASE WHEN m.pair IS NULL THEN w.s
         ELSE replace(w.s, m.pair, replace(m.pair, '> <', '')) END AS s, w.freq
  FROM w${r - 1} w LEFT JOIN m$r m ON true)"""
    }
    if (finalSelect.contains("__DFINAL__")) {
      sb ++= """,
d0 AS MATERIALIZED (
  SELECT doc_id,
    array_to_string(list_transform(t, w ->
      array_to_string(list_transform(string_split(w, ''), c -> '<' || c || '>'), ' ')),
      ' / ') AS s
  FROM tok)"""
      for (r <- 1 to rounds) {
        sb ++= s""",
d$r AS MATERIALIZED (
  SELECT doc_id, CASE WHEN m.pair IS NULL THEN d.s
         ELSE replace(d.s, m.pair, replace(m.pair, '> <', '')) END AS s
  FROM d${r - 1} d LEFT JOIN m$r m ON true)"""
      }
    }
    sb ++= "\n" + finalSelect
      .replace("__MERGES__",
        (1 to rounds).map(r => s"SELECT round, pair, cnt FROM m$r")
          .mkString("\n  UNION ALL "))
      .replace("__WFINAL__", s"w$rounds")
      .replace("__DFINAL__", s"d$rounds")
    sb.toString
  }

  private def smallSynth = TranscriptGen.Config(numConvs = 6, turnsPerConv = 20, skew = 3)

  /** Flagship: full KG construction on synthesized transcripts. */
  def entry(spark: SparkSession): DataFrame = {
    val turns = TranscriptGen.transcripts(spark, smallSynth)
    Ingest.runInMemory(spark, turns).triples.orderBy(col("fact_uuid"))
  }

  // =========================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- KG operators over the derived transcripts view (oracle-checked) ----

    "kg_chunk_window" -> ((s, dir) => {
      // ONE window pass: turn_idx is row_number()-1 over (user_id; ts,
      // event_id), so ordering by turn_idx within conv_id ≡ ordering by
      // (ts, event_id) within user_id (conv_id is a cast of user_id) — the
      // trailing text window and the chunk numbering ride the SAME
      // partitioning/sort the turn_idx derivation already established,
      // instead of re-exchanging + re-sorting the derived view (guide §2.4:
      // windows keyed like a preceding window share one exchange).
      // Value-identical: rn ≡ row_number over turn_idx asc, frame identical.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      read(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("chunk_text",
          array_join(collect_list(col("props")).over(w.rowsBetween(-2, 0)), "\n"))
        .select(
          col("user_id").cast("string").as("conv_id"),
          (col("rn") - 1).cast("int").as("turn_idx"),
          format_string("%s_chunk_%04d", col("user_id").cast("string"), col("rn"))
            .as("chunk_id"),
          col("chunk_text"))
      // no trailing orderBy: the driver compare sorts rows before hashing
      // (Verify.scala contract) and nothing here is limit-gated — the former
      // global sort range-exchanged the full chunk_text payload a second
      // time purely for file cosmetics (guide §2.4: an orderBy used only to
      // make output deterministic is an accidental shuffle)
    }),

    // no trailing orderBy (same argument as kg_chunk_window: driver compare
    // is order-insensitive, no limit downstream — the global sort moved the
    // whole text payload through a second exchange for nothing)
    "kg_min_length_filter" -> ((s, dir) =>
      transcriptsFromEvents(s, dir)
        .filter(length(col("text")) >= 9)
        .select(col("conv_id"), col("turn_idx"), col("text"))),

    "kg_header_prepend" -> ((s, dir) =>
      transcriptsFromEvents(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          when(instr(lower(col("text")), lower(col("role"))) > 0, col("text"))
            .otherwise(concat(col("role"), lit("\n"), col("text"))).as("text_ctx"))
        .orderBy(col("conv_id"), col("turn_idx"))),

    "kg_chunk_sorted" -> ((s, dir) => {
      // the storage-ordered fast path (S2, no turn-stream shuffle) driven
      // through the ENGINE over the derived transcripts re-laid the way a
      // standing store keeps them (hash-routed by conv, sorted within
      // partitions); oracle = plain emitted-row numbering per conversation
      import s.implicits._
      val aug = transcriptsFromEvents(s, dir)
        .withColumn("tool", lit(null).cast("string"))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), col("ts")).as[graft.model.Turn]
        .repartition(col("conv_id"))
        .sortWithinPartitions("conv_id", "turn_idx")
      graft.chunk.TurnChunker.chunk(s, aug,
        graft.chunk.TurnChunker.Config(minChars = 9, sortedInput = true))
        .select(col("conv_id"), col("window_end").as("turn_idx"), col("chunk_id"),
          col("header_path"))
        .orderBy(col("conv_id"), col("turn_idx"))
    }),

    "kg_header_stack" -> ((s, dir) => {
      // S2/W2 full #-level header stack, driven through the ENGINE
      // (TurnChunker markdownHeaders=true, saltTurns=7 so the stack must
      // carry across salt boundaries): every 4th turn gets a deterministic
      // markdown header at level 1+(turn_idx%3); the oracle replays the
      // reference's pop-then-push (markdown_chunker.py:41-49) with per-level
      // last_value IGNORE NULLS windows
      import s.implicits._
      val aug = transcriptsFromEvents(s, dir).select(
        col("conv_id"), col("turn_idx"),
        col("role"), lit(null).cast("string").as("tool"), col("ts"),
        when(col("turn_idx") % 4 === 0,
          concat(expr("repeat('#', 1 + turn_idx % 3)"), lit(" sec_"),
            col("conv_id"), lit("_"), col("turn_idx"), lit("\n"), col("text")))
          .otherwise(col("text")).as("text"))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), col("ts")).as[graft.model.Turn]
      graft.chunk.TurnChunker.chunk(s, aug,
        graft.chunk.TurnChunker.Config(minChars = 9, saltTurns = 7,
          markdownHeaders = true))
        .select(col("conv_id"), col("window_end").as("turn_idx"), col("header_path"))
        .orderBy(col("conv_id"), col("turn_idx"))
    }),

    "kg_rel_normalize" -> ((s, dir) => {
      val up = upper(col("p_type"))
      val joined = array_join(slice(split(up, "\\s+"), 1, 8), "_")
      val repl = regexp_replace(joined, "[^A-Z0-9_]", "_")
      val coll = regexp_replace(repl, "_+", "_")
      val trimmed = regexp_replace(coll, "^_+|_+$", "")
      read(s, dir, "part").select(col("p_partkey"), col("p_type"),
          when(trimmed === "", "RELATED_TO").otherwise(trimmed).as("rel_type"))
        .orderBy(col("p_partkey"))
    }),

    "kg_entity_collect" -> ((s, dir) =>
      docTokens(s, dir, Long.MaxValue)
        .select(col("doc_id"), explode(col("toks")).as("name"))
        .filter(col("name").isin(entityVocab: _*))
        .groupBy(col("name"))
        .agg(count(lit(1)).as("mention_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("name"))),

    "kg_cooccur_triples" -> ((s, dir) => {
      val tok = docTokens(s, dir, Long.MaxValue)
        .select(col("doc_id"), explode(col("toks")).as("name"))
        .filter(col("name").isin(entityVocab: _*))
      tok.as("a").join(tok.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.name") < col("b.name"))
        .groupBy(col("a.name").as("subject"), col("b.name").as("object"))
        .agg(count(lit(1)).as("n"))
        .select(col("subject"), lit("CO_OCCURS_WITH").as("predicate"), col("object"), col("n"))
        .orderBy(col("subject"), col("object"))
    }),

    "kg_connected_components" -> ((s, dir) => {
      val v = read(s, dir, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      // zero-pad ids: CC labels min() lexicographically, oracle min()s
      // numerically — padding makes the two orders coincide
      val pad = (c: org.apache.spark.sql.Column) => format_string("%012d", c)
      val pairs = v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
        .filter(graft.functions.VectorOps.cosine(col("a.emb"), col("b.emb")) >= 0.35)
        .select(pad(col("a.vec_id")).as("src"), pad(col("b.vec_id")).as("dst"))
      val cc = graft.canon.ConnectedComponents.run(s, pairs)
      v.select(col("vec_id"))
        .join(cc.withColumn("vec_id", col("id").cast("long")), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component").cast("long"), col("vec_id")).as("component"))
    }),

    "kg_firstlast_chunks" -> ((s, dir) => {
      // W3: document-date extraction scans chunks[:6] and chunks[-6:]
      // (pipeline.py:1346-1348) — here first/last 3 turns per conversation.
      // ONE window pass (same derivation argument as kg_chunk_window):
      // rn_a ≡ the turn_idx derivation's row_number, and the descending rank
      // is rn_d = cnt − rn_a + 1 (turn_idx is unique per conversation), so
      // the desc-sorted second window disappears (guide §2.4). The count
      // window shares the partition key — no extra exchange or sort.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cw = Window.partitionBy(col("user_id"))
      read(s, dir, "events")
        .withColumn("rn_a", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(cw))
        .filter(col("rn_a") <= 3 || col("cnt") - col("rn_a") < 3)
        .select(
          col("user_id").cast("string").as("conv_id"),
          (col("rn_a") - 1).cast("int").as("turn_idx"),
          col("props").as("text"),
          when(col("rn_a") <= 3, "head").otherwise("tail").as("pos"))
        .orderBy(col("conv_id"), col("turn_idx"))
    }),

    "kg_plural_includes" -> ((s, dir) => {
      // deterministic fixture (same VALUES inline in the oracle SQL): the
      // plural-grouping rule is pure surface-form logic, so it is exactly
      // DuckDB-checkable without the synth corpus
      import s.implicits._
      val ents = Seq(
        ("e01", "Districts", "Organization"),
        ("e02", "Boston District", "Organization"),
        ("e03", "New York District", "Organization"),
        ("e04", "Companies", "Organization"),
        ("e05", "Quantum Dynamics", "Organization"),
        ("e06", "Industries", "Organization"),
        ("e07", "Heavy Industry", "Organization"),
        ("e08", "Gary District", "Person"),
        ("e09", "Tech Companies", "Organization"),
        ("e10", "Acme Company", "Organization"),
        ("e11", "Swiss", "Organization"))
        .toDF("entity_uuid", "canonical_name", "entity_type")
      graft.canon.PluralGrouping.includesEdges(ents)
        .orderBy(col("plural_uuid"), col("member_uuid"))
    }),

    // ordered funnel signup→view→purchase within 72h of each user's
    // earliest signup (anchor semantics pinned in EventAnalytics.funnel);
    // oracle replays every step's gated min and the depth sum
    "events_funnel" -> ((s, dir) =>
      graft.ops.EventAnalytics.funnel(read(s, dir, "events"),
          Seq("signup", "view", "purchase"), "INTERVAL 72 HOURS")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          col("steps_completed"))
        .orderBy(col("user_id"))),

    // weekly cohort retention (all-integer: cohort week × offset × distinct
    // actives) — exact across engines by construction
    "events_cohort_retention" -> ((s, dir) =>
      graft.ops.EventAnalytics.cohortRetention(read(s, dir, "events"))
        .orderBy(col("cohort_week"), col("week_offset"))),

    "events_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gap = unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))
      read(s, dir, "events")
        .withColumn("new_s", when(gap.isNull || gap > 1800, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    "q_rollup" -> ((s, dir) =>
      read(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_qty"))
        .orderBy(col("rf"), col("ls"))),

    // ---- training-data dedup (oracle-checked where exact) ----

    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(read(s, dir, "documents")).orderBy(col("text_hash"))),

    "dedup_token_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(read(s, dir, "documents").filter(col("doc_id") < 100),
          n = 1, threshold = 0.8)),

    // Broder containment |A∩B|/min(|A|,|B|) over bigram sets — the
    // quote-inclusion detector Jaccard dilutes away; exact small-N path,
    // all-integer except the final ratio
    "dedup_containment" -> ((s, dir) =>
      Dedup.ngramContainmentPairs(
          read(s, dir, "documents").filter(col("doc_id") < 500),
          n = 2, threshold = 0.8)
        .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"),
          col("sz_b"), round(col("containment"), 6).as("containment"))
        .orderBy(col("id_a"), col("id_b"))),

    // pairs → transitive closure → one canonical survivor per cluster:
    // exact Jaccard pairs feed ConnectedComponents (the same operator the
    // entity-canonicalization path runs), oracle = recursive reachability
    "dedup_doc_clusters" -> ((s, dir) => {
      val docs = read(s, dir, "documents").filter(col("doc_id") < 100)
      Dedup.dedupClusters(docs,
          Dedup.ngramJaccardPairs(docs, n = 1, threshold = 0.8))
        .orderBy(col("doc_id"))
    }),

    // ---- text analysis (oracle-checked) ----

    // tokenize ONCE per row (staged projection): the five marker
    // intersections reference the token array, and higher-order lambdas
    // block codegen subexpression elimination — inlining langId(text) paid
    // five regex splits per row (guide §1.2; value-identical)
    "text_langid" -> ((s, dir) =>
      read(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_toks"))
        .select(col("doc_id"), TextAnalysis.langIdOf(col("_toks")).as("lang_pred"))),

    // same staged-tokenization shape: the four stats referenced the token
    // array ~10× — one split + one projection now (value-identical)
    "text_stats" -> ((s, dir) =>
      read(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("_toks"))
        .select(
          col("doc_id"),
          TextAnalysis.tokenCountOf(col("_toks")).cast("long").as("n_tokens"),
          TextAnalysis.bpeTokenCountOf(col("_toks")).as("n_bpe_tokens"),
          TextAnalysis.qualityScoreOf(col("text"), col("_toks")).as("quality"),
          TextAnalysis.fingerprintOf(col("_toks")).as("fingerprint"))),

    // ---- deterministic sampling / split assignment (oracle-checked) ----

    "text_dataset_split" -> ((s, dir) =>
      read(s, dir, "documents")
        .select(col("doc_id"), Sampling.datasetSplit(col("doc_id")).as("split"))
        .orderBy(col("doc_id"))),

    "text_stratified_sample" -> ((s, dir) =>
      read(s, dir, "documents")
        .filter(Sampling.stratifiedKeep(col("doc_id"), col("source"),
          Map("src1" -> 0.5, "src7" -> 0.25), defaultRate = 0.1))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    // ---- decontamination / repetition / PII / packing (oracle-checked) ----

    "text_decontam" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val evalDocs = docs.filter(col("doc_id") % 50 === 0)
      val train = docs.filter(col("doc_id") % 50 =!= 0)
      Decontam.contaminationReport(train, evalDocs, n = 5)
        .orderBy(col("doc_id"))
    }),

    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(read(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    "text_pii_redact" -> ((s, dir) => {
      val contact = read(s, dir, "customer").select(col("c_custkey"),
        concat(col("c_name"), lit(" <"), lower(col("c_name")), lit("@corp.example> tel "),
          format_string("%02d-%03d-%03d-%04d",
            col("c_custkey") % 90 + 10, col("c_custkey") * 7 % 900 + 100,
            col("c_custkey") * 13 % 900 + 100, col("c_custkey") * 37 % 9000 + 1000))
          .as("contact"))
      contact.select(col("c_custkey"),
          Pii.countEmails(col("contact")).cast("long").as("n_emails"),
          Pii.countPhones(col("contact")).cast("long").as("n_phones"),
          Pii.redact(col("contact")).as("redacted"))
        .orderBy(col("c_custkey"))
    }),

    "text_training_mix" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      TrainingMix.prepare(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          mixtureRates = Map("src1" -> 0.5, "src7" -> 0.25), defaultRate = 1.0)
        .orderBy(col("doc_id"))
    }),

    "text_packing" -> ((s, dir) =>
      Packing.packSequences(
          read(s, dir, "documents")
            .select(col("doc_id"),
              TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
          windowTokens = 256)
        .orderBy(col("doc_id"))),

    "text_token_budget" -> ((s, dir) =>
      Sampling.tokenBudgetCap(
          read(s, dir, "documents")
            .select(col("source"), col("doc_id"),
              TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
          budget = 800L, stratumCol = "source", idCol = "doc_id",
          lenCol = "n_tokens")
        .orderBy(col("doc_id"))),

    // ---- similarity search (oracle-checked, ids-only for fp safety) ----

    "ann_topk" -> ((s, dir) => {
      val v = read(s, dir, "embeddings")
      val q = v.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(v, q, k = 10)
        .withColumnRenamed("rank", "rnk")
        .select(col("qid"), col("rnk"), col("neighbor_id"))
    }),

    // int8-quantized ANN: per-vector symmetric quantization (pinned
    // floor(x·scale+0.5)) and EXACT integer-dot ranking — the 4×-compressed
    // vector path whose scores an oracle replays bit-for-bit with no
    // floating-point hedging
    "ann_quantized" -> ((s, dir) => {
      val v = read(s, dir, "embeddings")
      val q = v.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.quantizedTopK(v, q, k = 10)
        .withColumnRenamed("rank", "rnk")
        .select(col("qid"), col("rnk"), col("neighbor_id"), col("qdot"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- retrieval scoring (oracle-checked) ----

    "rrf_fusion" -> ((s, dir) => {
      val e = read(s, dir, "events")
      val byValue = e.orderBy(col("value").desc, col("event_id")).limit(20)
        .select(col("event_id"),
          row_number().over(Window.orderBy(col("value").desc, col("event_id"))).as("rnk"),
          lit("value").as("source"))
      val byRecency = e.orderBy(col("ts").desc, col("event_id")).limit(20)
        .select(col("event_id"),
          row_number().over(Window.orderBy(col("ts").desc, col("event_id"))).as("rnk"),
          lit("recency").as("source"))
      byValue.union(byRecency)
        .groupBy(col("event_id"))
        .agg(sum(lit(1.0) / (lit(60) + col("rnk"))).as("rrf_score"),
          count(lit(1)).as("n_sources"))
    }),

    "cross_source_boost" -> ((s, dir) => {
      val e = read(s, dir, "events")
      val vectorSide = e.filter(col("value") >= 100)
        .select(col("event_id").cast("string").as("fact_uuid"),
          (col("value") / 200.0).as("score"), lit("vector").as("source"),
          col("event_type").as("fact"))
      val keywordSide = e.filter(col("value") >= 120)
        .select(col("event_id").cast("string").as("fact_uuid"),
          (col("value") / 200.0).as("score"), lit("keyword").as("source"),
          col("event_type").as("fact"))
      Retriever.thresholdAndBoost(vectorSide.union(keywordSide))
        .select(col("fact_uuid"), col("vector_score"), col("final_score"),
          size(col("sources")).as("n_sources"))
        .orderBy(col("final_score").desc, col("fact_uuid"))
    }),

    // ---- relational coverage (oracle-checked) ----

    "q1_agg" -> ((s, dir) =>
      read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))),

    "q_join_agg" -> ((s, dir) => {
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      val n = read(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    }),

    "q_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      read(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
    }),

    "q_anti_join" -> ((s, dir) => {
      val c = read(s, dir, "customer")
      val o = read(s, dir, "orders").filter(col("o_totalprice") > 450000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "q_semi_join" -> ((s, dir) => {
      val p = read(s, dir, "part")
      val l = read(s, dir, "lineitem")
      p.join(l, p("p_partkey") === l("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
    }),

    "q_union_distinct" -> ((s, dir) =>
      read(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(read(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey"))),

    "q_date_agg" -> ((s, dir) =>
      read(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("month"))),

    // ---- rows-only (non-SQL-expressible: uuid5 / murmur / pipeline) ----
    // NOTE: every array column is stringified (array_join / to_json) — the
    // driver harness sorts results with pandas, which cannot hash ndarrays.

    "kg_pipeline_triples" -> ((s, dir) =>
      entry(s).withColumn("topics", array_join(array_sort(col("topics")), "|"))),

    "kg_pipeline_entities" -> ((s, dir) => {
      val turns = TranscriptGen.transcripts(s, smallSynth)
      Ingest.runInMemory(s, turns).entities
        .select(col("entity_uuid"), col("canonical_name"), col("entity_type"),
          array_join(array_sort(col("aliases")), "|").as("aliases"), col("group_id"))
        .orderBy(col("entity_uuid"))
    }),

    // EXACT empty-relation check for the entity table (the golden-diff
    // pattern): the pipeline's canonical entities ⊖ the generator-derived
    // golden entity set (TranscriptGen.goldenEntities — id-level grouping,
    // longest-form canonical, title-cased aliases, rule types). Any false
    // merge, missed merge, alias loss, canonical mis-pick, or type drift
    // lands a row; oracle = empty relation, driver hash-checked.
    "kg_pipeline_entities_check" -> ((s, dir) => {
      val r = Ingest.runInMemory(s, TranscriptGen.transcripts(s, smallSynth))
      def key(df: DataFrame): DataFrame = df.select(col("canonical_name"),
        col("entity_type"), col("aliases"), col("group_id"))
      val got = key(r.entities.withColumn("aliases",
        array_join(array_sort(col("aliases")), "|")))
      val exp = key(TranscriptGen.goldenEntities(s, smallSynth))
      got.except(exp).withColumn("side", lit("pipeline_only"))
        .unionByName(exp.except(got).withColumn("side", lit("golden_only")))
        .orderBy(col("canonical_name"), col("side"))
    }),

    "kg_retrieval_rrf" -> ((s, dir) => {
      val turns = TranscriptGen.transcripts(s, smallSynth)
      val facts = Retriever.withFactEmbeddings(Ingest.runInMemory(s, turns).triples)
      // widened floors/top-k so the driver row carries a meaningful result
      // set (≥20 fused rows) instead of round 2's 2-row fixture
      Retriever.search(facts, "acquisitions and partnerships", Seq.empty, topK = 30,
          Retriever.Config(globalFloor = 0.1, globalTopK = 60))
        .select(col("fact_uuid"), col("rrf_score"),
          array_join(array_sort(col("found_by")), "|").as("found_by"))
    }),

    // flagship EXACT check: symmetric difference between the full pipeline's
    // (conv, subj, pred, obj, date) set and the independently-derived golden
    // fixture — EMPTY on the smallSynth corpus, and the oracle is the empty
    // relation, so the driver hash-checks pipeline==golden end-to-end without
    // needing uuid5 in SQL.
    "kg_pipeline_golden_diff" -> ((s, dir) => {
      val r = Ingest.runInMemory(s, TranscriptGen.transcripts(s, smallSynth))
      def key(df: DataFrame): DataFrame = df.select(col("conv_id"),
        lower(col("subject")).as("s"), col("predicate").as("p"),
        lower(col("object")).as("o"),
        coalesce(col("date_context"), lit("")).as("d")).distinct()
      val got = key(r.triples)
      val exp = key(TranscriptGen.goldenTriples(s, smallSynth).toDF())
      got.except(exp).withColumn("side", lit("pipeline_only"))
        .unionByName(exp.except(got).withColumn("side", lit("golden_only")))
        .orderBy(col("conv_id"), col("s"), col("p"), col("o"), col("d"))
    }),

    // question → decompose → hint-resolve → dual-path retrieve → boost → cap,
    // with NO pre-supplied hints (the v6 flow end-to-end; rows-only check —
    // the question is a corpus fact's own text, so evidence must clear the
    // 0.65 relevance threshold deterministically)
    "kg_research_e2e" -> ((s, dir) => {
      val turns = TranscriptGen.transcripts(s, smallSynth)
      val r = Ingest.runInMemory(s, turns)
      val facts = Retriever.withFactEmbeddings(r.triples)
      val q = facts.orderBy(col("fact_uuid")).select(col("fact")).first().getString(0)
      graft.query.Researcher.researchQuestion(facts, r.entities, q, TranscriptGen.ontology)
        .withColumn("sources", array_join(array_sort(col("sources")), "|"))
        .orderBy(col("fact_uuid"))
    }),

    // EXACT empty-relation check for the question-driven e2e flow:
    // researchQuestion (decompose → hint-resolve → research, the driver
    // loop formulation) ⊖ researchBatch fed the SAME decomposed hints as a
    // one-row question table (the partition-by-query_id formulation). The
    // batch path is already proven ≡ the single `research` path
    // (kg_research_batch_check), so this transitively oracle-checks the
    // e2e row's retrieval/boost/cap arithmetic through a genuinely
    // different implementation. Expected empty; driver hash-checked.
    "kg_research_e2e_check" -> ((s, dir) => {
      import s.implicits._
      val turns = TranscriptGen.transcripts(s, smallSynth)
      val r = Ingest.runInMemory(s, turns)
      val facts = Retriever.withFactEmbeddings(r.triples)
      val q = facts.orderBy(col("fact_uuid")).select(col("fact")).first().getString(0)
      val d = graft.query.Decomposer.decompose(q, TranscriptGen.ontology)
      def key(df: DataFrame): DataFrame = df.select(col("fact_uuid"),
        round(col("final_score"), 9).as("sc"),
        array_join(array_sort(col("sources")), "|").as("src"))
      val e2e = key(graft.query.Researcher.researchQuestion(
        facts, r.entities, q, TranscriptGen.ontology))
      val qs = Seq((0L, q, d.entityHints, d.topicHints,
          d.questionType == graft.query.Decomposer.Enumeration))
        .toDF("query_id", "question", "entity_hints", "topic_hints", "enumeration")
      val batch = key(graft.query.Researcher.researchBatch(facts, r.entities, qs))
      e2e.except(batch).withColumn("side", lit("e2e_only"))
        .unionByName(batch.except(e2e).withColumn("side", lit("batch_only")))
        .orderBy(col("fact_uuid"), col("side"))
    }),

    "kg_research_batch" -> ((s, dir) => {
      // batched multi-question research: the partition-by-query_id
      // formulation of the whole v6 flow (per-question parity with the
      // single path is spec-asserted; rows-only here — embeddings are not
      // ANSI-expressible)
      import s.implicits._
      val turns = TranscriptGen.transcripts(s, smallSynth)
      val r = Ingest.runInMemory(s, turns)
      val facts = Retriever.withFactEmbeddings(r.triples)
      val qs = facts.orderBy(col("fact_uuid")).select(col("fact")).limit(3)
        .collect().map(_.getString(0)).zipWithIndex
        .map { case (q, i) => (i.toLong, q, Seq.empty[String], Seq.empty[String], i % 2 == 1) }
        .toSeq.toDF("query_id", "question", "entity_hints", "topic_hints", "enumeration")
      graft.query.Researcher.researchBatch(facts, r.entities, qs)
        .withColumn("sources", array_join(col("sources"), "|"))
        .orderBy(col("query_id"), col("fact_uuid"))
    }),

    // EXACT empty-relation check for the fused single-pass extractor: its
    // output ⊖ the two-stage chunk-then-extract path on the same synthetic
    // corpus (which DOES contain facts — both sides are non-empty relations
    // internally). Any drift in the emission gate, rule matching, or the
    // lazy uuid5 lands a row; oracle = empty relation, driver hash-checked.
    "kg_extract_fused_check" -> ((s, dir) => {
      import s.implicits._
      val turns = TranscriptGen.transcripts(s, smallSynth)
      def key(df: DataFrame): DataFrame = df.select(col("chunk_uuid"),
        col("conv_id"), col("turn_idx"), col("fact"), col("subject"),
        col("relationship"), col("object"), col("date_context"),
        array_join(col("topics"), "|").as("topics"))
      val viaChunks = key(graft.extract.TripleExtractor.extract(s,
        graft.chunk.TurnChunker.chunk(s, turns)).toDF())
      val fused = key(graft.extract.TripleExtractor.extractFused(s, turns).toDF())
      fused.except(viaChunks).withColumn("side", lit("fused_only"))
        .unionByName(viaChunks.except(fused).withColumn("side", lit("chunked_only")))
        .orderBy(col("conv_id"), col("turn_idx"), col("fact"), col("side"))
    }),

    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairs(read(s, dir, "documents").filter(col("doc_id") < 200),
          n = 1, k = 32, bands = 8, threshold = 0.7)),

    // EXACT empty-relation check for MinHash-LSH's verify step: every pair
    // the operator emitted is re-verified by the INDEPENDENT column-
    // expression shingle path (Dedup.jaccardCols — the one the exact
    // ngramJaccardPairs oracle uses) against the operator's own UDF-computed
    // jaccard: below-threshold or drifted-arithmetic pairs land a row.
    // Expected empty; the driver hash-checks it.
    "dedup_minhash_check" -> ((s, dir) => {
      val docs = read(s, dir, "documents").filter(col("doc_id") < 200)
      val pairs = Dedup.minhashLshPairs(docs, n = 1, k = 32, bands = 8, threshold = 0.7)
      Dedup.verifyPairsExact(docs, pairs, n = 1)
        .filter(col("jaccard_recomputed") < 0.7 ||
          abs(col("jaccard_recomputed") - col("jaccard")) > 1e-9)
        .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // EXACT empty-relation check for the batched research flow: the whole-
    // table researchBatch output ⊖ the per-question single path — any
    // divergence in retrieval, boost, cap, expansion, or refinement between
    // the two formulations lands a row. Expected empty (spec-asserted too;
    // this makes it a driver-hash-checked contract).
    "kg_research_batch_check" -> ((s, dir) => {
      val turns = TranscriptGen.transcripts(s, smallSynth)
      val r = Ingest.runInMemory(s, turns)
      val facts = Retriever.withFactEmbeddings(r.triples)
      val qtexts = facts.orderBy(col("fact_uuid")).select(col("fact")).limit(3)
        .collect().map(_.getString(0))
      import s.implicits._
      val qs = qtexts.zipWithIndex
        .map { case (q, i) => (i.toLong, q, Seq.empty[String], Seq.empty[String], i % 2 == 1) }
        .toSeq.toDF("query_id", "question", "entity_hints", "topic_hints", "enumeration")
      def key(df: DataFrame): DataFrame = df.select(col("query_id"), col("fact_uuid"),
        round(col("final_score"), 9).as("sc"),
        array_join(array_sort(col("sources")), "|").as("src"))
      val batch = key(graft.query.Researcher.researchBatch(facts, r.entities, qs))
      val singles = qtexts.zipWithIndex.map { case (q, i) =>
        key(graft.query.Researcher.research(facts, r.entities, q,
            enumeration = i % 2 == 1)
          .withColumn("query_id", lit(i.toLong)))
      }.reduce(_ unionByName _)
      batch.except(singles).withColumn("side", lit("batch_only"))
        .unionByName(singles.except(batch).withColumn("side", lit("single_only")))
        .orderBy(col("query_id"), col("fact_uuid"), col("side"))
    }),

    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(read(s, dir, "documents").filter(col("doc_id") < 200),
          maxHamming = 12)),

    "dedup_embedding_pairs" -> ((s, dir) =>
      Dedup.embeddingCosinePairs(
          read(s, dir, "embeddings").filter(col("vec_id") < 500),
          threshold = 0.25, nPlanes = 8, nTables = 4)
        .orderBy(col("id_a"), col("id_b"))),

    "ann_ivf" -> ((s, dir) => {
      val v = read(s, dir, "embeddings")
      val q = v.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(v, q, k = 10, nCentroids = 16, nprobe = 4)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("qid"), col("rnk"))
    }),

    // EXACT empty-relation check (the kg_pipeline_golden_diff pattern): every
    // pair the LSH+verify operator emitted is re-scored by the independent
    // codegen CosineSimilarity expression (the operator verifies with the
    // Scala UDF) — any pair below the threshold, or any arithmetic drift
    // between the two paths, lands a row; the oracle is the empty relation,
    // so the driver hash-checks the verify step end-to-end even though LSH
    // recall itself is not ANSI-expressible.
    "dedup_embedding_check" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings").filter(col("vec_id") < 500)
      Dedup.embeddingCosinePairs(emb, threshold = 0.25, nPlanes = 8, nTables = 4)
        .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va")), Seq("id_a"))
        .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")), Seq("id_b"))
        .withColumn("recomputed",
          graft.functions.expr.CosineSimilarity(col("va"), col("vb")))
        .filter(col("recomputed") < lit(0.25) - lit(1e-9) ||
          abs(col("recomputed") - col("cosine")) > 1e-9)
        .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // EXACT empty-relation check for IVF: recall is inherently < 1 (the
    // committed curve in BASELINE.md quantifies it), but every (qid,
    // neighbor) the index DID return must carry exactly the true cosine —
    // recomputed here via the interpreted HOF formulation, independent of
    // the codegen path the operator scores with. Expected empty.
    "ann_ivf_score_check" -> ((s, dir) => {
      val v = read(s, dir, "embeddings")
      val q = v.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(v, q, k = 10, nCentroids = 16, nprobe = 4)
        .join(v.select(col("vec_id").as("neighbor_id"), col("embedding").as("nvec")),
          Seq("neighbor_id"))
        .join(q, Seq("qid"))
        .withColumn("recomputed", graft.functions.VectorOps.cosineHof(
          col("qvec").cast("array<double>"), col("nvec").cast("array<double>")))
        .filter(abs(col("recomputed") - col("score")) > 1e-9)
        .select(col("qid").cast("long").as("qid"),
          col("neighbor_id").cast("long").as("neighbor_id"),
          col("rank").cast("int").as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    "multimodal_features" -> ((s, dir) => {
      import s.implicits._
      Multimodal.extractFeatures(s, Multimodal.syntheticMedia(s, 200)).toDF()
        .withColumn("byte_hist", to_json(col("byte_hist")))
        .orderBy(col("media_id"))
    }),

    // EXACT empty-relation check for the REAL decode paths: every image
    // row's PNG payload is decoded by ImageIO and the decoded dims must
    // equal the row's metadata dims; every audio row's PCM WAV payload is
    // decoded by javax.sound and must report the true sample rate (16 kHz)
    // and the exact duration implied by the corpus' frame formula
    // (160 + id % 320 frames); every video row's MP4 payload is parsed by
    // the ISO-BMFF box walker and must report the metadata dims (tkhd) and
    // the corpus duration formula 500 + id % 1000 ms (mvhd); histograms
    // must be unit-sum. A decoder regression, header mixup, box-offset
    // slip, or hist normalization bug lands a row.
    "multimodal_decode_check" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.syntheticMedia(s, 200)
      val meta = media.toDF().select(col("media_id"),
        col("width").as("m_w"), col("height").as("m_h"),
        col("sample_rate").as("m_sr"))
      val expectedDurMs = floor((lit(160) + pmod(col("media_id"), lit(320)))
        * 1000 / 16000).cast("int")
      val expectedVidMs = (lit(500) + pmod(col("media_id"), lit(1000))).cast("int")
      Multimodal.extractFeatures(s, media).toDF()
        .join(meta, Seq("media_id"))
        .withColumn("hist_sum", aggregate(col("byte_hist"), lit(0.0), (a, v) => a + v))
        .filter(
          (col("media_type") === "image" &&
            (col("width") =!= col("m_w") || col("height") =!= col("m_h"))) ||
          (col("media_type") === "audio" &&
            (col("sample_rate_hz") =!= col("m_sr") ||
              col("duration_ms") =!= expectedDurMs)) ||
          (col("media_type") === "video" &&
            (col("width") =!= col("m_w") || col("height") =!= col("m_h") ||
              col("duration_ms") =!= expectedVidMs)) ||
          abs(col("hist_sum") - 1.0) > 1e-9)
        .select(col("media_id").cast("long").as("media_id"))
        .orderBy(col("media_id"))
    }),

    "text_rolling_hash" -> ((s, dir) =>
      read(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.rollingHash(col("text")).as("rolling_hash"))
        .orderBy(col("doc_id"))),

    // EXACT empty-relation check for SimHash blocking EXHAUSTIVENESS: within
    // the radius, pigeonhole blocking claims recall = 1 (unlike MinHash —
    // the scaladoc guarantee at Dedup.simhashPairs). Brute-force every pair
    // over the same signatures (hamming via a Long.bitCount UDF, independent
    // of the operator's bit_count codegen expression) and take the symmetric
    // difference with the operator's output: a missed bucket, a chunk-slice
    // off-by-one, a dedup bug, or popcount drift lands a row. O(n²) brute
    // force is the point of the check — bounded to the same 200-doc subset.
    "dedup_simhash_check" -> ((s, dir) => {
      val docs = read(s, dir, "documents").filter(col("doc_id") < 200)
      val lsh = Dedup.simhashPairs(docs, maxHamming = 12)
        .select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b"),
          col("hamming").cast("int").as("hamming"))
      val sigs = Dedup.simhashSignatures(docs)
      val hamUdf = udf((a: Long, b: Long) => java.lang.Long.bitCount(a ^ b))
      val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").cast("long").as("id_a"),
          col("b.id").cast("long").as("id_b"),
          hamUdf(col("a.sim"), col("b.sim")).as("hamming"))
        .filter(col("hamming") <= 12)
      lsh.except(brute).withColumn("side", lit("lsh_only"))
        .unionByName(brute.except(lsh).withColumn("side", lit("brute_only")))
        .orderBy(col("id_a"), col("id_b"), col("side"))
    }),

    // EXACT empty-relation check for RRF fusion (A8/W4): the fused scores the
    // retrieval path emits (rank via row_number window → Σ 1/(60+rank)) are
    // recomputed from the same per-strategy result rows via an INDEPENDENT
    // join-count rank formulation (rank = 1 + #rows in the same strategy
    // strictly ahead under (score desc, fact_uuid)) — a window-frame bug,
    // tie-break drift, or fusion-arithmetic drift lands a row. The O(n²)
    // rank join is check-only; n = per-strategy candidate list (≤60 here).
    "kg_retrieval_rrf_check" -> ((s, dir) => {
      val turns = TranscriptGen.transcripts(s, smallSynth)
      val facts = Retriever.withFactEmbeddings(Ingest.runInMemory(s, turns).triples)
      val cfg = Retriever.Config(globalFloor = 0.1, globalTopK = 60)
      val q = "acquisitions and partnerships"
      val fused = Retriever.search(facts, q, Seq.empty, topK = 30, cfg)
      val u = Retriever.globalSearch(facts, q, cfg)
        .select("fact_uuid", "score", "source")
        .union(Retriever.keywordSearch(facts, q).select("fact_uuid", "score", "source"))
      val jrank = u.as("x").join(u.as("y"),
          col("y.source") === col("x.source") &&
            (col("y.score") > col("x.score") ||
              (col("y.score") === col("x.score") &&
                col("y.fact_uuid") < col("x.fact_uuid"))),
          "left")
        .groupBy(col("x.fact_uuid"), col("x.source"))
        .agg((count(col("y.fact_uuid")) + 1).cast("int").as("jr"))
      val recomputed = jrank.groupBy(col("fact_uuid"))
        .agg(sum(lit(1.0) / (lit(cfg.rrfK) + col("jr"))).as("rscore"),
          collect_set(col("source")).as("rfound"))
      fused.join(recomputed, Seq("fact_uuid"), "left")
        .filter(col("rscore").isNull ||
          abs(col("rrf_score") - col("rscore")) > 1e-9 ||
          array_join(array_sort(col("found_by")), "|") =!=
            array_join(array_sort(col("rfound")), "|"))
        .select(col("fact_uuid"))
        .orderBy(col("fact_uuid"))
    }),

    // EXACT empty-relation check for the rolling fingerprint: the production
    // column is Spark's codegen xxhash64 fold; the check re-folds the SAME
    // token stream through graft.functions.XxHash64Ref — a from-the-
    // published-spec XXH64 reimplementation (long = 8 LE bytes, string =
    // UTF-8 bytes, each call seeding the next from 42) — so any drift in
    // seed plumbing, byte layout, tail handling, or avalanche lands a row.
    // (Tokenization itself is oracle-covered by text_stats' n_tokens.)
    "text_rolling_hash_check" -> ((s, dir) => {
      val refUdf = udf((toks: Seq[String]) =>
        graft.functions.XxHash64Ref.rollingFold(toks))
      read(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.rollingHash(col("text")).as("h"),
          refUdf(TextAnalysis.tokens(col("text"))).as("href"))
        .filter(col("h") =!= col("href"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- graph analytics over the materialized graph (GraphAlgos) ----

    "graph_degree" -> ((s, dir) =>
      graft.query.GraphAlgos.degrees(simEdges(s, dir))
        .select(col("id").as("vec_id"), col("degree"))
        .orderBy(col("vec_id"))),

    "graph_khop" -> ((s, dir) => {
      import s.implicits._
      val seeds = Seq(0L).toDF("id")
      graft.query.GraphAlgos.kHop(simEdges(s, dir), seeds, maxHops = 3)
        .select(col("id").as("vec_id"), col("dist"))
        .orderBy(col("vec_id"))
    }),

    "graph_pagerank" -> ((s, dir) =>
      // 3 fixed iterations so the oracle unrolls exactly; round(,6) absorbs
      // sum-order ULP drift between engines (values are ~5e-3, margin 1e9×)
      graft.query.GraphAlgos.pageRank(simEdges(s, dir), iters = 3)
        .select(col("id").as("vec_id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("vec_id"))),

    "graph_triangles" -> ((s, dir) =>
      graft.query.GraphAlgos.triangles(simEdges(s, dir))
        .select(col("id").as("vec_id"), col("triangles"))
        .orderBy(col("vec_id"))),

    "graph_ppr" -> ((s, dir) => {
      import s.implicits._
      // personalized to seeds {0, 7}: rank = importance relative to those
      // two vectors; a seed isolated at some SF exercises the dangling path
      graft.query.GraphAlgos.personalizedPageRank(
          simEdges(s, dir), Seq(0L, 7L).toDF("id"), iters = 3)
        .select(col("id").as("vec_id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("vec_id"))
    }),

    "graph_pagerank_weighted" -> ((s, dir) => {
      // multi-edge graph with REAL multiplicities: customer—supplier pairs,
      // one edge per lineitem (id spaces disambiguated by a c/s prefix);
      // weighted rank distributes proportionally to pair frequency
      val e = read(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(read(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      graft.query.GraphAlgos.pageRankWeighted(e, iters = 3)
        .select(col("id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("id"))
    }),

    "graph_label_prop" -> ((s, dir) =>
      graft.query.GraphAlgos.labelPropagation(simEdges(s, dir), iters = 3)
        .select(col("id").as("vec_id"), col("label"))
        .orderBy(col("vec_id"))),

    // Newman degree assortativity over the similarity graph — one row, the
    // three stub sums exact-integer, the coefficient double-rounded; oracle
    // replays sums and the pinned final arithmetic
    "graph_assortativity" -> ((s, dir) =>
      graft.query.GraphAlgos.assortativity(simEdges(s, dir))),

    // per-edge triangle support (the k-truss peel quantity; support 0 =
    // bridge) over the shared similarity graph; oracle re-enumerates the
    // triangles and attributes each to its three canonical edges
    "graph_truss_support" -> ((s, dir) =>
      graft.query.GraphAlgos.edgeSupport(simEdges(s, dir))
        .orderBy(col("src"), col("dst"))),

    // Newman modularity of the 3-round label-prop communities over the same
    // similarity graph — the communities plus THEIR quality metric (per-
    // community contribution rows sum to Q); oracle replays label-prop and
    // the modularity algebra end to end
    "graph_modularity" -> ((s, dir) =>
      graft.query.GraphAlgos.modularity(simEdges(s, dir),
          graft.query.GraphAlgos.labelPropagation(simEdges(s, dir), iters = 3))
        .select(col("label"), col("n_vertices"), col("internal_edges"),
          col("degree_sum"), round(col("contribution"), 6).as("contribution"))
        .orderBy(col("label"))),

    "graph_link_predict" -> ((s, dir) =>
      graft.query.GraphAlgos.linkPrediction(simEdges(s, dir))
        .select(col("a"), col("b"), col("common"),
          round(col("jaccard"), 6).as("jaccard"),
          round(col("adamic_adar"), 6).as("adamic_adar"))
        .orderBy(col("a"), col("b"))),

    "graph_walks" -> ((s, dir) =>
      graft.query.GraphAlgos.deterministicWalks(simEdges(s, dir), length = 4)
        .select(col("walk_id"), col("walk_idx"), col("step"), col("vertex"))
        .orderBy(col("walk_id"), col("step"))),

    // one deterministic shortest path from vertex 0 to the farthest-id
    // vertex it reaches within 8 hops (min-predecessor reconstruction —
    // the oracle replays the identical vertex sequence)
    "graph_shortest_path" -> ((s, dir) => {
      import s.implicits._
      val e = simEdges(s, dir)
      val dists = graft.query.GraphAlgos.kHop(e, Seq(0L).toDF("id"), maxHops = 8)
      val dstId = dists.agg(max(col("id"))).collect()(0).getLong(0)
      graft.query.GraphAlgos.shortestPath(e, 0L, dstId, maxHops = 8)
        .orderBy(col("step"))
    }),

    // strongly connected components over a deterministically ORIENTED
    // similarity graph: md5 hex 1 picks the direction, hex 2 makes ~25% of
    // pairs mutual — cycles arise from orientation, the oracle re-derives
    // the identical digraph and labels SCCs by recursive mutual reachability
    "graph_scc" -> ((s, dir) => {
      val h = md5(concat_ws(":", col("src"), col("dst")))
      val o = simEdges(s, dir).select(col("src"), col("dst"),
        substring(h, 1, 1).as("h1"), substring(h, 2, 1).as("h2"))
      val fwdDir = o.select(
        when(col("h1") <= "7", col("src")).otherwise(col("dst")).as("src"),
        when(col("h1") <= "7", col("dst")).otherwise(col("src")).as("dst"),
        col("h2"))
      val directed = fwdDir.select(col("src"), col("dst")).unionByName(
        fwdDir.filter(col("h2") <= "3")
          .select(col("dst").as("src"), col("src").as("dst")))
      graft.query.GraphAlgos.stronglyConnected(directed).orderBy(col("id"))
    }),

    // exact Brandes betweenness over the shared similarity graph (horizon 10
    // >= the graph's diameter at every SF, so the bounded-horizon semantics
    // coincide with textbook betweenness here); oracle = the same forward-
    // sigma/backward-delta recurrence unrolled level by level in DuckDB
    "graph_betweenness" -> ((s, dir) =>
      graft.query.GraphAlgos.betweenness(simEdges(s, dir), maxDepth = 10)
        .select(col("id"), round(col("betweenness"), 6).as("betweenness"))
        .orderBy(col("id"))),

    // closeness + harmonic centrality, exact at horizon 10 >= diameter;
    // oracle = all-sources recursive-CTE min distances, same aggregates
    "graph_closeness" -> ((s, dir) =>
      graft.query.GraphAlgos.closeness(simEdges(s, dir), maxDepth = 10)
        .select(col("id"), col("reached"),
          round(col("closeness"), 6).as("closeness"),
          round(col("harmonic"), 6).as("harmonic"))
        .orderBy(col("id"))),

    // per-vertex local clustering coefficients over the shared similarity
    // graph; oracle recomputes degrees + the same triangle enumeration
    "graph_clustering" -> ((s, dir) =>
      graft.query.GraphAlgos.clusteringCoefficients(simEdges(s, dir))
        .select(col("id"), col("degree"), col("triangles"),
          round(col("coefficient"), 6).as("coefficient"))
        .orderBy(col("id"))),

    // weighted single-source shortest distances (bounded Bellman-Ford, 12
    // relaxation rounds both sides): md5-derived integer weights 1..9 per
    // undirected pair, seed = the smallest edge endpoint; oracle = bounded
    // recursive-CTE relaxation with the identical hop bound (integer costs
    // -> exact min parity, no float ties)
    "graph_weighted_dist" -> ((s, dir) => {
      val e = simEdges(s, dir).withColumn("w",
        (conv(substring(md5(concat_ws(":", col("src"), col("dst"))), 1, 1),
          16, 10).cast("int") % 9) + 1)
      val seed = e.select(least(min(col("src")), min(col("dst"))).as("id"))
      graft.query.GraphAlgos.weightedDistances(e, seed, maxRounds = 12)
        .orderBy(col("id"))
    }),

    // HyperBall neighborhood sketches (Boldi-Vigna): 8 register-max merge
    // rounds of per-vertex p=4 HLLs — the sketch layer that replaces exact
    // BFS state at 10^12-edge scale. Register-IDENTICAL oracle (no float
    // estimates in the driver row; accuracy is spec-asserted against the
    // exact closeness instead).
    "graph_hyperball" -> ((s, dir) =>
      graft.query.GraphAlgos.hyperBall(simEdges(s, dir), maxDepth = 8, p = 4)
        .orderBy(col("id"), col("register"))),

    // count-min heavy hitters: a 4×256 sketch over l_partkey (≈2k distinct
    // keys → real collisions, real over-counts), estimates joined to truth;
    // md5 buckets make the ENTIRE sketch recomputable by the oracle
    "sketch_heavy_hitters" -> ((s, dir) => {
      val items = read(s, dir, "lineitem").select(col("l_partkey"))
      val sk = graft.ops.Sketch.countMin(items, "l_partkey", width = 256, depth = 4)
      val est = graft.ops.Sketch.cmsEstimate(sk, items.distinct(), "l_partkey",
        width = 256, depth = 4)
      val truth = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("true_count"))
      est.join(truth, Seq("l_partkey"))
        .orderBy(col("cms_count").desc, col("l_partkey"))
        .limit(20)
        .select(col("l_partkey"), col("cms_count"), col("true_count"))
    }),

    // HLL registers over order keys: the oracle rebuilds every register
    // from the same md5 hex arithmetic — the sketch itself is the checked
    // surface, the float estimate stays in SketchSpec
    "sketch_hll_registers" -> ((s, dir) =>
      graft.ops.Sketch.hllRegisters(
          read(s, dir, "lineitem").select(col("l_orderkey")), "l_orderkey", p = 8)
        .orderBy(col("register"))),

    // quantile sketch: md5-gated deterministic sample (rate 16384/65536 =
    // 1/4) + exact rank-statistic extraction per language — the oracle
    // replays the identical gate, ranks, and ⌊q·(n-1)⌋+1 picks
    "sketch_quantiles" -> ((s, dir) => {
      val sample = graft.ops.Sketch.quantileSample(
        read(s, dir, "documents"), "doc_id", rate16 = 16384)
      graft.ops.Sketch.sampleQuantiles(
          sample.select(col("lang"), length(col("text")).cast("long").as("len")),
          "len", Seq(0.1, 0.5, 0.9), by = Seq("lang"))
        .orderBy(col("lang"), col("q"))
    }),

    // CCNet-style line dedup: the driver corpus is single-line, so the row
    // exercises the operator at token granularity (sep=" ") — tokens
    // appearing in >= 400 of the 500 docs are corpus boilerplate and drop;
    // documents rebuild from their surviving tokens in order
    "text_line_dedup" -> ((s, dir) =>
      Dedup.dedupLines(read(s, dir, "documents"), minDocs = 400, sep = " ")
        .orderBy(col("doc_id"))),

    // ExactSubstr-class duplicated-substring spans (Lee et al. 2022): maximal
    // character ranges whose every 25-char window repeats somewhere in the
    // corpus — the sub-line verbatim-passage class neither document- nor
    // line-level dedup can see. Oracle replays the whole formulation
    // (stride-1 md5 windows -> frequency -> gaps-and-islands merge).
    "text_substring_dedup" -> ((s, dir) =>
      Dedup.duplicateSpans(read(s, dir, "documents"), window = 25)
        .orderBy(col("doc_id"), col("span_start"))),

    // DSIR-style importance scores (distribution-matching data selection):
    // target = the English documents, raw pool = everything else; hashed
    // bigram buckets, add-one smoothing. Oracle replays buckets, histograms,
    // totals and the per-doc log-ratio sum.
    "text_dsir_scores" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      graft.ops.DataSelection.dsirScores(
          docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"))
        .select(col("doc_id"), col("n_grams"), round(col("score"), 6).as("score"))
        .orderBy(col("doc_id"))
    }),

    // fastText-shape trained quality classifier (multinomial NB over hashed
    // unigram+bigram features — the GPT-3/LLaMA corpus-gate family): pos =
    // the English docs, neg = the rest, every doc scored and classified.
    // Oracle re-derives both class histograms, the totals, the prior and
    // every per-doc feature-weight sum
    "text_quality_classifier" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      graft.ops.QualityClassifier.scores(docs,
          docs.filter(col("lang") === "en"), docs.filter(col("lang") =!= "en"))
        .select(col("doc_id"), col("n_features"),
          round(col("score"), 6).as("score"), col("predicted"))
        .orderBy(col("doc_id"))
    }),

    // Efraimidis–Spirakis weighted sampling without replacement: 50 docs
    // drawn ∝ n_chars through deterministic md5 uniforms (the mixture-
    // sampling primitive rand() can't give at scale — retries re-roll it);
    // oracle replays u, the ln(u)/w key and the exact top-k membership
    "text_weighted_sample" -> ((s, dir) =>
      graft.ops.Sampling.weightedSample(
          read(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          k = 50, weightCol = "n_chars")
        .select(col("doc_id"), col("n_chars"), round(col("es_key"), 6).as("es_key"))
        .orderBy(col("doc_id"))),

    // temperature-scaled mixture (the mT5/XLM-R balancing rule, alpha=0.5):
    // per-source keep rates ∝ n^(alpha−1) max-normed, then the deterministic
    // hash gate applied — rates AND the kept-count realization in one row
    // set; oracle replays the masses, pow, normalization, floor threshold
    // and every gate decision
    "text_temperature_mix" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      graft.ops.Sampling.temperatureRates(docs, 0.5, "source", "n_chars")
        .join(graft.ops.Sampling
            .temperatureKeep(docs, 0.5, "source", "n_chars", "doc_id")
            .groupBy(col("source").as("kept_source")).agg(count(lit(1)).as("kept_docs")),
          col("source") <=> col("kept_source"), "left")
        .select(col("source"), col("stratum_tokens"),
          round(col("p"), 6).as("p"), round(col("keep_rate"), 6).as("keep_rate"),
          coalesce(col("kept_docs"), lit(0L)).as("kept_docs"))
        .orderBy(col("source"))
    }),

    // fixed-quota stratified sample: 10 docs per language by the salted
    // (hash, id) total order — deterministic eval-set construction; oracle
    // replays the hash order and every rank
    "text_quota_sample" -> ((s, dir) =>
      graft.ops.Sampling.quotaSample(
          read(s, dir, "documents").select(col("doc_id"), col("lang")),
          k = 10, stratumCol = "lang", idCol = "doc_id")
        .select(col("doc_id"), col("lang"), col("sample_rank").cast("long").as("sample_rank"))
        .orderBy(col("lang"), col("sample_rank"))),

    // BPE tokenizer training (20 merges over the corpus word table) — the
    // merge sequence IS the tokenizer model; oracle replays every round's
    // pair count, tie-break and greedy rewrite
    "text_bpe_merges" -> ((s, dir) =>
      graft.ops.Bpe.trainMerges(read(s, dir, "documents"), rounds = 20)
        .orderBy(col("round"))),

    // the symbol vocabulary the 20 merges induce (alphabet + merged symbols
    // with corpus occurrence counts under the final segmentation)
    "text_bpe_vocab" -> ((s, dir) =>
      graft.ops.Bpe.vocab(read(s, dir, "documents"), rounds = 20)
        .orderBy(col("symbol"))),

    // the APPLY step: per-doc token counts under the 20-merge tokenizer —
    // train-then-encode in one row (the model is 20 rows, collected as the
    // literal nested-replace fold; no join in the encode pass)
    "text_bpe_encode" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val model = graft.ops.Bpe.trainMerges(docs, rounds = 20)
        .orderBy(col("round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ops.Bpe.encodeTokenCounts(docs, model).orderBy(col("doc_id"))
    }),

    // CCNet-style perplexity filter: bigram LM trained on the English docs,
    // every other doc scored (same target/raw split as text_dsir_scores —
    // the two quality signals a corpus pipeline combines). Oracle re-derives
    // the full model and every per-token log-probability.
    "text_perplexity" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val (big, uni, v, t) = graft.ops.LanguageModel.trainBigram(
        docs.filter(col("lang") === "en"))
      graft.ops.LanguageModel.perplexity(
          docs.filter(col("lang") =!= "en"), big, uni, v, t)
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_logprob"), 6).as("avg_logprob"),
          round(col("ppl"), 4).as("ppl"))
        .orderBy(col("doc_id"))
    }),

    // the ExactSubstr REMOVAL step: every document rebuilt with its
    // duplicated spans cut out (span-free docs verbatim, fully-duplicated
    // docs survive empty). Oracle rebuilds per-character (naive is fine
    // oracle-side); the engine folds the few spans per doc instead.
    "text_substring_drop" -> ((s, dir) =>
      Dedup.dropDuplicateSpans(read(s, dir, "documents"), window = 25)
        .orderBy(col("doc_id"))),

    // Winnowing fingerprints (Schleimer et al. SIGMOD'03), the alignment-
    // invariant scale path for substring dedup: every w-window of k-gram
    // hashes selects its minimum. Oracle replays the selection exactly via
    // the same portable "hash#paddedPos" string-min window.
    "text_winnow_fingerprints" -> ((s, dir) =>
      Dedup.winnowFingerprints(
          read(s, dir, "documents").filter(col("doc_id") < 200), k = 8, w = 16)
        .orderBy(col("doc_id"), col("pos"))),

    // EXACT empty-relation check of the winnowing guarantee ON the real
    // corpus: every duplicated span of length >= w + k - 1 = 23 (from the
    // independent exact stride-1 formulation) must contain at least one
    // selected fingerprint whose k-gram lies fully inside it. A span with no
    // in-span fingerprint lands a row. Expected empty by the SIGMOD'03
    // theorem — any break in the window frame, the completeness filter, or
    // the position arithmetic of either operator surfaces here.
    "text_winnow_guarantee_check" -> ((s, dir) => {
      val docs = read(s, dir, "documents").filter(col("doc_id") < 200)
      val k = 8; val w = 16
      val spans = Dedup.duplicateSpans(docs, window = w + k - 1)
      val fps = Dedup.winnowFingerprints(docs, k = k, w = w)
        .withColumnRenamed("doc_id", "fp_doc")
      spans.join(fps,
          col("doc_id") === col("fp_doc") &&
            col("pos") >= col("span_start") &&
            col("pos") <= col("span_end") - (k - 1),
          "left_anti")
        .select(col("doc_id"), col("span_start"), col("span_end"))
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // ---- temporal joins (as-of / range — union-scan + bucketed, never a
    //      per-key pair blowup; oracle = the naive predicate in DuckDB) ----

    // for each click, the latest purchase of the same user within 3 days
    "events_asof_join" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("user_id"),
          col("ts").as("p_ts"), col("value").as("p_value"))
      graft.ops.Temporal.asofJoin(clicks, purchases, "ts", "p_ts",
          by = Seq("user_id"), tolerance = Some(259200L),
          tieBreak = Some("p_event_id"))
        .orderBy(col("event_id"))
    }),

    // activity inside ±10 min of every purchase (interval join, bucketed)
    "events_range_join" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val points = ev.select(col("event_id"), col("ts"))
      // NTZ → TIMESTAMP → DOUBLE epoch seconds; the session-TZ shift is the
      // same one rangeJoin applies to the points side, so containment is
      // timezone-invariant (and the oracle compares microsecond diffs)
      val secs = col("ts").cast("timestamp").cast("double")
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("win_id"),
          (secs - 600.0).as("w_start"), (secs + 600.0).as("w_end"))
      graft.ops.Temporal.rangeJoin(points, "ts", windows, "w_start", "w_end",
          bucketSecs = 600L)
        .groupBy(col("win_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"))
        .orderBy(col("win_id"))
    })
  )

  // =========================================================================

  def oracleSql: Map[String, String] = Map(

    "kg_chunk_window" ->
      s"""$transcriptsCte
         |SELECT conv_id, turn_idx,
         |  printf('%s_chunk_%04d', conv_id,
         |         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)) AS chunk_id,
         |  string_agg(text, chr(10)) OVER (PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS chunk_text
         |FROM transcripts ORDER BY conv_id, turn_idx""".stripMargin,

    "kg_min_length_filter" ->
      s"""$transcriptsCte
         |SELECT conv_id, turn_idx, text FROM transcripts
         |WHERE length(text) >= 9 ORDER BY conv_id, turn_idx""".stripMargin,

    "kg_header_prepend" ->
      s"""$transcriptsCte
         |SELECT conv_id, turn_idx,
         |  CASE WHEN strpos(lower(text), lower(role)) > 0 THEN text
         |       ELSE role || chr(10) || text END AS text_ctx
         |FROM transcripts ORDER BY conv_id, turn_idx""".stripMargin,

    "kg_chunk_sorted" ->
      s"""$transcriptsCte,
         |emitted AS (
         |  SELECT conv_id, turn_idx, role,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS chunk_no
         |  FROM transcripts
         |  WHERE length(trim(text)) >= 9 AND trim(text) NOT LIKE '---%')
         |SELECT conv_id, turn_idx,
         |  printf('%s_chunk_%04d', conv_id, chunk_no) AS chunk_id,
         |  role AS header_path
         |FROM emitted ORDER BY conv_id, turn_idx""".stripMargin,

    "kg_header_stack" ->
      s"""$transcriptsCte,
         |aug AS (
         |  SELECT conv_id, turn_idx, role,
         |    CASE WHEN turn_idx % 4 = 0
         |      THEN repeat('#', 1 + (turn_idx % 3)) || ' sec_' || conv_id || '_' || turn_idx || chr(10) || text
         |      ELSE text END AS text,
         |    CASE WHEN turn_idx % 4 = 0 THEN 1 + (turn_idx % 3) END AS hlvl,
         |    CASE WHEN turn_idx % 4 = 0 THEN 'sec_' || conv_id || '_' || turn_idx END AS htext
         |  FROM transcripts),
         |stk AS (
         |  SELECT conv_id, turn_idx, role, text,
         |    last_value(CASE WHEN hlvl <= 1 THEN hlvl || '|' || htext END IGNORE NULLS) OVER w AS s1,
         |    last_value(CASE WHEN hlvl <= 2 THEN hlvl || '|' || htext END IGNORE NULLS) OVER w AS s2,
         |    last_value(CASE WHEN hlvl <= 3 THEN hlvl || '|' || htext END IGNORE NULLS) OVER w AS s3
         |  FROM aug
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT conv_id, turn_idx,
         |  concat_ws(' > ', role,
         |    CASE WHEN s1 LIKE '1|%' THEN substr(s1, 3) END,
         |    CASE WHEN s2 LIKE '2|%' THEN substr(s2, 3) END,
         |    CASE WHEN s3 LIKE '3|%' THEN substr(s3, 3) END) AS header_path
         |FROM stk
         |WHERE length(trim(text)) >= 9 AND trim(text) NOT LIKE '---%'
         |ORDER BY conv_id, turn_idx""".stripMargin,

    "kg_rel_normalize" ->
      """WITH r AS (
        |  SELECT p_partkey, p_type,
        |    array_to_string(list_slice(string_split_regex(upper(p_type), '\s+'), 1, 8), '_') AS j
        |  FROM part),
        |r2 AS (
        |  SELECT p_partkey, p_type,
        |    regexp_replace(regexp_replace(regexp_replace(j,
        |      '[^A-Z0-9_]', '_', 'g'), '_+', '_', 'g'), '^_+|_+$', '', 'g') AS t
        |  FROM r)
        |SELECT p_partkey, p_type,
        |  CASE WHEN t = '' THEN 'RELATED_TO' ELSE t END AS rel_type
        |FROM r2 ORDER BY p_partkey""".stripMargin,

    "kg_entity_collect" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS name
        |  FROM documents)
        |SELECT name, CAST(count(*) AS BIGINT) AS mention_docs, min(doc_id) AS first_doc
        |FROM toks
        |WHERE name IN ('spark','customer','vector','window','stream','table')
        |GROUP BY name ORDER BY name""".stripMargin,

    "kg_cooccur_triples" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS name
        |  FROM documents),
        |f AS (SELECT * FROM toks
        |      WHERE name IN ('spark','customer','vector','window','stream','table'))
        |SELECT a.name AS subject, 'CO_OCCURS_WITH' AS predicate, b.name AS object,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.name < b.name
        |GROUP BY a.name, b.name ORDER BY subject, object""".stripMargin,

    "kg_connected_components" ->
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings WHERE vec_id < 200),
        |e AS (
        |  SELECT a.vec_id AS s, b.vec_id AS d FROM v a, v b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(a.emb, b.emb) >= 0.35),
        |sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
        |walk(id, reach) AS (
        |  SELECT vec_id, vec_id FROM v
        |  UNION
        |  SELECT w.id, s.d FROM walk w JOIN sym s ON w.reach = s.s)
        |SELECT id AS vec_id, min(reach) AS component
        |FROM walk GROUP BY id ORDER BY vec_id""".stripMargin,

    "kg_firstlast_chunks" ->
      s"""$transcriptsCte
         |SELECT conv_id, turn_idx, text,
         |  CASE WHEN rn_a <= 3 THEN 'head' ELSE 'tail' END AS pos
         |FROM (
         |  SELECT conv_id, turn_idx, text,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn_a,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC) AS rn_d
         |  FROM transcripts)
         |WHERE rn_a <= 3 OR rn_d <= 3
         |ORDER BY conv_id, turn_idx""".stripMargin,

    "kg_plural_includes" ->
      """WITH e(entity_uuid, canonical_name, entity_type) AS (
        |  SELECT * FROM (VALUES
        |    ('e01','Districts','Organization'), ('e02','Boston District','Organization'),
        |    ('e03','New York District','Organization'), ('e04','Companies','Organization'),
        |    ('e05','Quantum Dynamics','Organization'), ('e06','Industries','Organization'),
        |    ('e07','Heavy Industry','Organization'), ('e08','Gary District','Person'),
        |    ('e09','Tech Companies','Organization'), ('e10','Acme Company','Organization'),
        |    ('e11','Swiss','Organization'))),
        |p AS (
        |  SELECT entity_uuid AS plural_uuid, canonical_name AS plural_name, entity_type,
        |    CASE WHEN canonical_name NOT LIKE '% %' AND length(canonical_name) > 3 THEN
        |      CASE WHEN lower(canonical_name) LIKE '%ies'
        |             THEN substr(lower(canonical_name), 1, length(canonical_name)-3) || 'y'
        |           WHEN lower(canonical_name) LIKE '%s' AND lower(canonical_name) NOT LIKE '%ss'
        |             THEN substr(lower(canonical_name), 1, length(canonical_name)-1)
        |      END END AS skey
        |  FROM e),
        |m AS (
        |  SELECT entity_uuid AS member_uuid, canonical_name AS member_name, entity_type,
        |    lower(regexp_extract(canonical_name, '(\S+)$', 1)) AS mkey
        |  FROM e)
        |SELECT plural_uuid, plural_name, 'INCLUDES' AS predicate, member_uuid, member_name
        |FROM m JOIN p ON mkey = skey AND m.entity_type = p.entity_type
        |              AND member_uuid <> plural_uuid
        |ORDER BY plural_uuid, member_uuid""".stripMargin,

    "events_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
        |  FROM x)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end
        |FROM y GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, s1.t1,
        |         min(CASE WHEN e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 72 HOUR
        |                  THEN e.ts END) AS t2
        |       FROM s1 LEFT JOIN events e
        |         ON e.user_id = s1.user_id AND e.event_type = 'view'
        |       GROUP BY s1.user_id, s1.t1),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
        |         min(CASE WHEN e.ts > s2.t2 AND e.ts <= s2.t1 + INTERVAL 72 HOUR
        |                  THEN e.ts END) AS t3
        |       FROM s2 LEFT JOIN events e
        |         ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |       GROUP BY s2.user_id, s2.t1, s2.t2)
        |SELECT user_id, t1, t2, t3,
        |       CAST(1 + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
        |              + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS INT)
        |         AS steps_completed
        |FROM s3 ORDER BY user_id""".stripMargin,

    "events_cohort_retention" ->
      """WITH firsts AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |                FROM events GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
        |           FROM events)
        |SELECT cohort_week,
        |       CAST(date_diff('day', cohort_week, active_week) / 7 AS INT) AS week_offset,
        |       CAST(count(*) AS BIGINT) AS active_users
        |FROM firsts JOIN active USING (user_id)
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin,

    "dedup_token_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS toks
        |  FROM documents WHERE doc_id < 100),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
        |  FROM t a, t b WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // bigram-set containment replay: same tokenization as the Jaccard
    // oracle, shingles via the range/slice idiom, ratio over least size
    "dedup_containment" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 500),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         range(1, greatest(len(t), 1)),
        |         i -> array_to_string(t[i : i + 1], ' '))) AS toks
        |       FROM tok),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
        |    CAST(len(a.toks) AS BIGINT) AS sz_a, CAST(len(b.toks) AS BIGINT) AS sz_b
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, inter, sz_a, sz_b,
        |       round(CAST(inter AS DOUBLE) / least(sz_a, sz_b), 6) AS containment
        |FROM p WHERE CAST(inter AS DOUBLE) / least(sz_a, sz_b) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_doc_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS toks
        |  FROM documents WHERE doc_id < 100),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a, t b WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
        |sym AS (SELECT id_a AS s, id_b AS d FROM p
        |        UNION SELECT id_b, id_a FROM p),
        |walk(id, reach) AS (
        |  SELECT doc_id, doc_id FROM t
        |  UNION
        |  SELECT w.id, s.d FROM walk w JOIN sym s ON w.reach = s.s)
        |SELECT id AS doc_id, min(reach) AS cluster_id,
        |  id = min(reach) AS keep
        |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}0-9]+'),
        |                             x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, unnest([
        |    {'hits': len(list_intersect(toks, ['the','and','of','to','is','in','that','for','with','on'])), 'lang': 'en'},
        |    {'hits': len(list_intersect(toks, ['el','la','de','que','y','en','los','del','las','por'])), 'lang': 'es'},
        |    {'hits': len(list_intersect(toks, ['der','die','und','das','ist','nicht','mit','ein','für','auf'])), 'lang': 'de'},
        |    {'hits': len(list_intersect(toks, ['le','la','les','des','est','dans','pour','que','une','sur'])), 'lang': 'fr'},
        |    {'hits': len(list_intersect(toks, ['的','是','在','了','和','有','我','不','这','中'])), 'lang': 'zh'}
        |  ]) AS sc FROM t),
        |r AS (
        |  SELECT doc_id, sc.hits AS hits, sc.lang AS lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY sc.hits DESC, sc.lang DESC) AS rn
        |  FROM s)
        |SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, toks,
        |    CAST(len(toks) AS DOUBLE) AS ntok,
        |    CAST(length(text) AS DOUBLE) AS nchar,
        |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS nalpha,
        |    CAST(len(list_intersect(toks, ['the','and','of','to','is','in','a','that'])) AS DOUBLE) AS stophits,
        |    COALESCE(CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE), 0.0) AS sumlen
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(toks) AS BIGINT)
        |    + COALESCE(CAST(list_sum(list_transform(toks,
        |        w -> CAST(floor(length(w) / 5.0) AS BIGINT))) AS BIGINT), 0) AS n_bpe_tokens,
        |  CAST(round((
        |    (CASE WHEN ntok BETWEEN 20 AND 5000 THEN 1.0
        |          WHEN ntok BETWEEN 5 AND 20000 THEN 0.5 ELSE 0.0 END)
        |    + (nalpha / greatest(nchar, 1.0))
        |    + least(stophits / 4.0, 1.0)
        |    + (CASE WHEN (sumlen / greatest(ntok, 1.0)) BETWEEN 2.5 AND 10.0
        |            THEN 1.0 ELSE 0.0 END)
        |  ) / 4.0, 4) AS DOUBLE) AS quality,
        |  md5(array_to_string(toks, ' ')) AS fingerprint
        |FROM m ORDER BY doc_id""".stripMargin,

    "ann_topk" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qv FROM v WHERE vec_id < 5),
        |s AS (
        |  SELECT q.qid, v.vec_id AS nid, list_cosine_similarity(q.qv, v.emb) AS score
        |  FROM q, v WHERE v.vec_id <> q.qid),
        |r AS (
        |  SELECT qid, nid,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS INT) AS rnk
        |  FROM s)
        |SELECT qid, rnk, nid AS neighbor_id FROM r WHERE rnk <= 10
        |ORDER BY qid, rnk""".stripMargin,

    // quantization replay: same scale, same pinned rounding, exact integer
    // dot products — the whole row set compares with zero tolerance
    "ann_quantized" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |sc AS (SELECT vec_id, emb,
        |         CASE WHEN list_max(list_transform(emb, x -> abs(x))) > 0
        |              THEN 127.0 / list_max(list_transform(emb, x -> abs(x)))
        |              ELSE 0.0 END AS scale
        |       FROM v),
        |qi AS (SELECT vec_id,
        |         list_transform(emb, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv
        |       FROM sc),
        |pairs AS (
        |  SELECT que.vec_id AS qid, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
        |                                 i -> c.qv[i] * que.qv[i])) AS BIGINT) AS qdot
        |  FROM qi c, (SELECT * FROM qi WHERE vec_id < 5) que
        |  WHERE c.vec_id <> que.vec_id),
        |r AS (SELECT qid, neighbor_id, qdot,
        |        CAST(row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, neighbor_id) AS INT) AS rnk
        |      FROM pairs)
        |SELECT qid, rnk, neighbor_id, qdot FROM r WHERE rnk <= 10
        |ORDER BY qid, rnk""".stripMargin,

    "rrf_fusion" ->
      """WITH a AS (
        |  SELECT event_id,
        |    CAST(row_number() OVER (ORDER BY value DESC, event_id) AS INT) AS rnk,
        |    'value' AS source
        |  FROM events ORDER BY value DESC, event_id LIMIT 20),
        |b AS (
        |  SELECT event_id,
        |    CAST(row_number() OVER (ORDER BY ts DESC, event_id) AS INT) AS rnk,
        |    'recency' AS source
        |  FROM events ORDER BY ts DESC, event_id LIMIT 20),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
        |SELECT event_id, sum(1.0 / (60 + rnk)) AS rrf_score,
        |       CAST(count(*) AS BIGINT) AS n_sources
        |FROM u GROUP BY event_id ORDER BY event_id""".stripMargin,

    "cross_source_boost" ->
      """WITH u AS (
        |  SELECT CAST(event_id AS VARCHAR) AS fact_uuid, value / 200.0 AS score,
        |         'vector' AS source FROM events WHERE value >= 100
        |  UNION ALL
        |  SELECT CAST(event_id AS VARCHAR), value / 200.0, 'keyword'
        |  FROM events WHERE value >= 120),
        |g AS (
        |  SELECT fact_uuid, max(score) AS vector_score,
        |         CAST(count(DISTINCT source) AS INT) AS n_sources
        |  FROM u GROUP BY fact_uuid),
        |f AS (
        |  SELECT fact_uuid, vector_score,
        |         vector_score + 0.15 * (n_sources - 1) AS final_score, n_sources
        |  FROM g WHERE vector_score >= 0.65)
        |SELECT fact_uuid, vector_score, final_score, n_sources FROM f
        |ORDER BY final_score DESC, fact_uuid LIMIT 50""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_price,
        |  CAST(round(avg(l_discount), 6) AS DOUBLE) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_agg" ->
      """SELECT n_name,
        |  CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_window_topk" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
        |  FROM orders)
        |SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM r
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "q_semi_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey""".stripMargin,

    "q_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,

    "q_date_agg" ->
      """SELECT date_trunc('month', o_orderdate) AS month,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,

    // the flagship golden-diff is the EMPTY relation: the Spark side emits
    // pipeline⊖golden (expected empty), the oracle emits zero rows with the
    // same schema — any pipeline/golden divergence breaks the hash match
    "kg_pipeline_golden_diff" ->
      """SELECT '' AS conv_id, '' AS s, '' AS p, '' AS o, '' AS d, '' AS side
        |WHERE 1 = 0""".stripMargin,

    // empty-relation checks: the Spark side emits violations of the
    // operator's own verify/scoring arithmetic (expected none)
    "dedup_embedding_check" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
        |WHERE 1 = 0""".stripMargin,

    "ann_ivf_score_check" ->
      """SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS neighbor_id,
        |  CAST(NULL AS INTEGER) AS rnk
        |WHERE 1 = 0""".stripMargin,

    "dedup_minhash_check" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
        |WHERE 1 = 0""".stripMargin,

    "kg_research_batch_check" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, '' AS fact_uuid,
        |  CAST(NULL AS DOUBLE) AS sc, '' AS src, '' AS side
        |WHERE 1 = 0""".stripMargin,

    "kg_pipeline_entities_check" ->
      """SELECT '' AS canonical_name, '' AS entity_type, '' AS aliases,
        |  '' AS group_id, '' AS side
        |WHERE 1 = 0""".stripMargin,

    "kg_research_e2e_check" ->
      """SELECT '' AS fact_uuid, CAST(NULL AS DOUBLE) AS sc, '' AS src,
        |  '' AS side
        |WHERE 1 = 0""".stripMargin,

    "kg_extract_fused_check" ->
      """SELECT '' AS chunk_uuid, '' AS conv_id, CAST(NULL AS INTEGER) AS turn_idx,
        |  '' AS fact, '' AS subject, '' AS relationship, '' AS object,
        |  '' AS date_context, '' AS topics, '' AS side
        |WHERE 1 = 0""".stripMargin,

    "multimodal_decode_check" ->
      """SELECT CAST(NULL AS BIGINT) AS media_id WHERE 1 = 0""".stripMargin,

    "dedup_simhash_check" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
        |  CAST(NULL AS INTEGER) AS hamming, '' AS side
        |WHERE 1 = 0""".stripMargin,

    "kg_retrieval_rrf_check" ->
      """SELECT '' AS fact_uuid WHERE 1 = 0""".stripMargin,

    "text_rolling_hash_check" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id WHERE 1 = 0""".stripMargin,

    // md5-hex → 16-bit bucket: ('0x' || first-4-hex)::INT in DuckDB ==
    // conv(substring(md5, 1, 4), 16, 10) in Spark; thresholds are the same
    // integer literals Sampling.pctThreshold / stratifiedKeep embed
    "text_dataset_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 52428 THEN 'train'
        |       WHEN b < 58982 THEN 'valid' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('graft-split' || CAST(doc_id AS VARCHAR)), 1, 4))::INT AS b
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "text_stratified_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5('graft-mix' || CAST(doc_id AS VARCHAR)), 1, 4))::INT AS b
        |  FROM documents)
        |WHERE b < CASE source WHEN 'src1' THEN 32768
        |                      WHEN 'src7' THEN 16384 ELSE 6553 END
        |ORDER BY doc_id""".stripMargin,

    // eval split = doc_id % 50 == 0; 5-gram overlap, distinct shared grams
    "text_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}0-9]+'), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
        |                          i -> array_to_string(t[i : i + 4], ' '))) AS g
        |  FROM toks),
        |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0)
        |SELECT tr.doc_id, CAST(count(DISTINCT tr.g) AS BIGINT) AS n_shared
        |FROM tr JOIN ev USING (g)
        |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}0-9]+'), x -> x <> '') AS t
        |  FROM documents),
        |g5 AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(t) - 3, 1)),
        |                   i -> array_to_string(t[i : i + 4], ' ')) AS g
        |  FROM toks),
        |dup AS (
        |  SELECT doc_id,
        |    round(CAST(len(g) - len(list_distinct(g)) AS DOUBLE)
        |          / greatest(len(g), 1), 4) AS dup_ngram_frac
        |  FROM g5),
        |big AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(t), 1)),
        |                          i -> array_to_string(t[i : i + 1], ' '))) AS g
        |  FROM toks),
        |cnts AS (SELECT doc_id, g, count(*) AS cnt FROM big GROUP BY 1, 2),
        |top AS (
        |  SELECT doc_id, round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 4) AS tbf
        |  FROM cnts GROUP BY 1)
        |SELECT dup.doc_id, dup.dup_ngram_frac,
        |  coalesce(top.tbf, 0.0) AS top_bigram_frac
        |FROM dup LEFT JOIN top ON dup.doc_id = top.doc_id
        |ORDER BY dup.doc_id""".stripMargin,

    "text_pii_redact" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    c_name || ' <' || lower(c_name) || '@corp.example> tel ' ||
        |    printf('%02d-%03d-%03d-%04d',
        |           c_custkey % 90 + 10, c_custkey * 7 % 900 + 100,
        |           c_custkey * 13 % 900 + 100, c_custkey * 37 % 9000 + 1000) AS contact
        |  FROM customer)
        |SELECT c_custkey,
        |  CAST(len(regexp_extract_all(contact,
        |    '[A-Za-z0-9#._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(contact,
        |    '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(contact,
        |    '[A-Za-z0-9#._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted
        |FROM c ORDER BY c_custkey""".stripMargin,

    // full mix-prep composition: quality/lang/token gates -> exact dedup
    // (min-id per md5(text)) -> 5-gram decontam vs the doc_id%50=0 eval
    // split -> mixture gates (src1 50%, src7 25%, default keep-all) ->
    // split assignment; every stage reuses an already-proven oracle fragment
    "text_training_mix" ->
      """WITH base AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}0-9]+'), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id % 50 <> 0),
        |lid AS (
        |  SELECT doc_id, sc.hits AS hits, sc.lang AS lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY sc.hits DESC, sc.lang DESC) AS rn
        |  FROM (
        |    SELECT doc_id, unnest([
        |      {'hits': len(list_intersect(toks, ['the','and','of','to','is','in','that','for','with','on'])), 'lang': 'en'},
        |      {'hits': len(list_intersect(toks, ['el','la','de','que','y','en','los','del','las','por'])), 'lang': 'es'},
        |      {'hits': len(list_intersect(toks, ['der','die','und','das','ist','nicht','mit','ein','für','auf'])), 'lang': 'de'},
        |      {'hits': len(list_intersect(toks, ['le','la','les','des','est','dans','pour','que','une','sur'])), 'lang': 'fr'},
        |      {'hits': len(list_intersect(toks, ['的','是','在','了','和','有','我','不','这','中'])), 'lang': 'zh'}
        |    ]) AS sc FROM base) s0),
        |lp AS (SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
        |       FROM lid WHERE rn = 1),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS DOUBLE) AS ntok,
        |    CAST(length(text) AS DOUBLE) AS nchar,
        |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS nalpha,
        |    CAST(len(list_intersect(toks, ['the','and','of','to','is','in','a','that'])) AS DOUBLE) AS stophits,
        |    COALESCE(CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE), 0.0) AS sumlen
        |  FROM base),
        |q AS (
        |  SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
        |    CAST(round(((CASE WHEN ntok BETWEEN 20 AND 5000 THEN 1.0
        |                      WHEN ntok BETWEEN 5 AND 20000 THEN 0.5 ELSE 0.0 END)
        |      + (nalpha / greatest(nchar, 1.0)) + least(stophits / 4.0, 1.0)
        |      + (CASE WHEN (sumlen / greatest(ntok, 1.0)) BETWEEN 2.5 AND 10.0
        |              THEN 1.0 ELSE 0.0 END)) / 4.0, 4) AS DOUBLE) AS quality
        |  FROM m),
        |f AS (
        |  SELECT b.doc_id, b.source, b.text, b.toks, lp.lang_pred, q.n_tokens, q.quality
        |  FROM base b JOIN lp USING (doc_id) JOIN q USING (doc_id)
        |  WHERE q.n_tokens >= 20 AND q.quality >= 0.5
        |    AND lp.lang_pred IN ('en','es','de','fr','zh')),
        |k AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM f GROUP BY 1),
        |d AS (SELECT f.* FROM f JOIN k ON md5(f.text) = k.h AND f.doc_id = k.keep_id),
        |evg AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(toks2) - 3, 1)),
        |      i -> array_to_string(toks2[i : i + 4], ' '))) AS g
        |  FROM (SELECT list_filter(string_split_regex(lower(text), '[^\p{L}0-9]+'), x -> x <> '') AS toks2
        |        FROM documents WHERE doc_id % 50 = 0) e0),
        |cont AS (
        |  SELECT DISTINCT dg.doc_id
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 3, 1)),
        |          i -> array_to_string(toks[i : i + 4], ' '))) AS g FROM d) dg
        |  JOIN evg USING (g)),
        |c AS (SELECT * FROM d WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        |s AS (SELECT *,
        |    ('0x' || substr(md5('graft-mix' || CAST(doc_id AS VARCHAR)), 1, 4))::INT AS mb,
        |    ('0x' || substr(md5('graft-split' || CAST(doc_id AS VARCHAR)), 1, 4))::INT AS sb
        |  FROM c)
        |SELECT doc_id, source, lang_pred, n_tokens, quality,
        |  CASE WHEN sb < 52428 THEN 'train'
        |       WHEN sb < 58982 THEN 'valid' ELSE 'test' END AS split
        |FROM s
        |WHERE mb < CASE source WHEN 'src1' THEN 32768
        |                       WHEN 'src7' THEN 16384 ELSE 65536 END
        |ORDER BY doc_id""".stripMargin,

    "text_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^\p{L}0-9]+'),
        |                         x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, token_offset,
        |  token_offset // 256 AS first_bin,
        |  (token_offset + greatest(n_tokens, 1) - 1) // 256 AS last_bin
        |FROM o ORDER BY doc_id""".stripMargin,

    // per-source inclusive running token sum in doc_id order; the kept gate
    // is cum <= budget (the crossing document is dropped, not truncated)
    "text_token_budget" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^\p{L}0-9]+'),
        |                         x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT source, doc_id, n_tokens, cum_tokens, cum_tokens <= 800 AS kept
        |FROM o ORDER BY doc_id""".stripMargin,

    "graph_degree" ->
      s"""$simEdgesCte
         |SELECT s AS vec_id, CAST(count(*) AS BIGINT) AS degree
         |FROM sym GROUP BY s ORDER BY vec_id""".stripMargin,

    "graph_khop" ->
      s"""${simEdgesCte.replace("WITH v AS", "WITH RECURSIVE v AS")},
         |walk(id, dist) AS (
         |  SELECT CAST(0 AS BIGINT), 0
         |  UNION
         |  SELECT s.d, w.dist + 1 FROM walk w JOIN sym s ON w.id = s.s
         |  WHERE w.dist < 3)
         |SELECT id AS vec_id, CAST(min(dist) AS INT) AS dist
         |FROM walk GROUP BY id ORDER BY vec_id""".stripMargin,

    // 3 PageRank iterations unrolled; every scalar forced to DOUBLE so the
    // arithmetic is the same IEEE sequence Spark runs (a bare 1 - 0.85 is
    // DECIMAL in DuckDB); round(,6) absorbs sum-order ULP drift
    "graph_pagerank" ->
      s"""$simEdgesCte,
         |verts AS (SELECT DISTINCT s AS id FROM sym),
         |deg AS (SELECT s AS id, CAST(count(*) AS BIGINT) AS od FROM sym GROUP BY s),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
         |r0 AS (SELECT id, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM verts),
         |r1 AS (SELECT verts.id,
         |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * (CAST(1 AS DOUBLE) / (SELECT n FROM nn))
         |    + CAST(0.85 AS DOUBLE) * coalesce(c.cs, CAST(0 AS DOUBLE)) AS rank
         |  FROM verts LEFT JOIN (
         |    SELECT sym.d AS id, sum(r.rank / deg.od) AS cs
         |    FROM sym JOIN r0 r ON sym.s = r.id JOIN deg ON sym.s = deg.id
         |    GROUP BY sym.d) c ON verts.id = c.id),
         |r2 AS (SELECT verts.id,
         |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * (CAST(1 AS DOUBLE) / (SELECT n FROM nn))
         |    + CAST(0.85 AS DOUBLE) * coalesce(c.cs, CAST(0 AS DOUBLE)) AS rank
         |  FROM verts LEFT JOIN (
         |    SELECT sym.d AS id, sum(r.rank / deg.od) AS cs
         |    FROM sym JOIN r1 r ON sym.s = r.id JOIN deg ON sym.s = deg.id
         |    GROUP BY sym.d) c ON verts.id = c.id),
         |r3 AS (SELECT verts.id,
         |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * (CAST(1 AS DOUBLE) / (SELECT n FROM nn))
         |    + CAST(0.85 AS DOUBLE) * coalesce(c.cs, CAST(0 AS DOUBLE)) AS rank
         |  FROM verts LEFT JOIN (
         |    SELECT sym.d AS id, sum(r.rank / deg.od) AS cs
         |    FROM sym JOIN r2 r ON sym.s = r.id JOIN deg ON sym.s = deg.id
         |    GROUP BY sym.d) c ON verts.id = c.id)
         |SELECT id AS vec_id, round(rank, 6) AS rank FROM r3 ORDER BY vec_id""".stripMargin,

    // triangles once each as a<b<c over the oriented (s<d) edge list;
    // per-vertex counts are orientation-invariant, so the engine's
    // degree-ordered compact-forward matches this simple enumeration
    "graph_triangles" ->
      s"""$simEdgesCte,
         |tri AS (
         |  SELECT e1.s AS a, e1.d AS b, e2.d AS c
         |  FROM e e1 JOIN e e2 ON e1.d = e2.s
         |  JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d)
         |SELECT u AS vec_id, CAST(count(*) AS BIGINT) AS triangles
         |FROM (SELECT unnest([a, b, c]) AS u FROM tri)
         |GROUP BY u ORDER BY vec_id""".stripMargin,

    // personalized teleport: mass only on the seed rows; dangling mass
    // (isolated seeds) redistributed BY the teleport distribution — the
    // same unrolled shape as graph_pagerank plus the dangling subquery
    "graph_ppr" ->
      s"""$simEdgesCte,
         |seeds(id) AS (VALUES (CAST(0 AS BIGINT)), (CAST(7 AS BIGINT))),
         |verts AS (SELECT DISTINCT s AS id FROM sym UNION SELECT id FROM seeds),
         |deg AS (SELECT s AS id, CAST(count(*) AS BIGINT) AS od FROM sym GROUP BY s),
         |tele AS (SELECT v.id,
         |    CASE WHEN sd.id IS NOT NULL
         |         THEN CAST(1 AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM seeds)
         |         ELSE CAST(0 AS DOUBLE) END AS tele
         |  FROM verts v LEFT JOIN seeds sd ON v.id = sd.id),
         |r0 AS (SELECT id, tele AS rank FROM tele),
         |r1 AS (SELECT t.id,
         |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * t.tele
         |    + CAST(0.85 AS DOUBLE) * (coalesce(c.cs, CAST(0 AS DOUBLE))
         |      + (SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) FROM r0 r
         |         LEFT JOIN deg ON r.id = deg.id WHERE deg.id IS NULL) * t.tele) AS rank
         |  FROM tele t LEFT JOIN (
         |    SELECT sym.d AS id, sum(r.rank / deg.od) AS cs
         |    FROM sym JOIN r0 r ON sym.s = r.id JOIN deg ON sym.s = deg.id
         |    GROUP BY sym.d) c ON t.id = c.id),
         |r2 AS (SELECT t.id,
         |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * t.tele
         |    + CAST(0.85 AS DOUBLE) * (coalesce(c.cs, CAST(0 AS DOUBLE))
         |      + (SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) FROM r1 r
         |         LEFT JOIN deg ON r.id = deg.id WHERE deg.id IS NULL) * t.tele) AS rank
         |  FROM tele t LEFT JOIN (
         |    SELECT sym.d AS id, sum(r.rank / deg.od) AS cs
         |    FROM sym JOIN r1 r ON sym.s = r.id JOIN deg ON sym.s = deg.id
         |    GROUP BY sym.d) c ON t.id = c.id),
         |r3 AS (SELECT t.id,
         |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * t.tele
         |    + CAST(0.85 AS DOUBLE) * (coalesce(c.cs, CAST(0 AS DOUBLE))
         |      + (SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) FROM r2 r
         |         LEFT JOIN deg ON r.id = deg.id WHERE deg.id IS NULL) * t.tele) AS rank
         |  FROM tele t LEFT JOIN (
         |    SELECT sym.d AS id, sum(r.rank / deg.od) AS cs
         |    FROM sym JOIN r2 r ON sym.s = r.id JOIN deg ON sym.s = deg.id
         |    GROUP BY sym.d) c ON t.id = c.id)
         |SELECT id AS vec_id, round(rank, 6) AS rank FROM r3 ORDER BY vec_id""".stripMargin,

    // weighted unroll: contributions are rank * w / W(u) (all-DOUBLE after
    // the division); symmetrized bipartite graph has no dangling vertices
    "graph_pagerank_weighted" ->
      """WITH pairs0 AS (
        |  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |pairs AS (SELECT src, dst FROM pairs0
        |          UNION ALL SELECT dst, src FROM pairs0),
        |adj AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
        |        FROM pairs WHERE src <> dst GROUP BY src, dst),
        |verts AS (SELECT src AS id FROM adj UNION SELECT dst FROM adj),
        |outw AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS ow FROM adj GROUP BY src),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
        |r0 AS (SELECT id, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM verts),
        |r1 AS (SELECT verts.id,
        |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * (CAST(1 AS DOUBLE) / (SELECT n FROM nn))
        |    + CAST(0.85 AS DOUBLE) * coalesce(c.cs, CAST(0 AS DOUBLE)) AS rank
        |  FROM verts LEFT JOIN (
        |    SELECT adj.dst AS id, sum(r.rank * adj.w / outw.ow) AS cs
        |    FROM adj JOIN r0 r ON adj.src = r.id JOIN outw ON adj.src = outw.id
        |    GROUP BY adj.dst) c ON verts.id = c.id),
        |r2 AS (SELECT verts.id,
        |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * (CAST(1 AS DOUBLE) / (SELECT n FROM nn))
        |    + CAST(0.85 AS DOUBLE) * coalesce(c.cs, CAST(0 AS DOUBLE)) AS rank
        |  FROM verts LEFT JOIN (
        |    SELECT adj.dst AS id, sum(r.rank * adj.w / outw.ow) AS cs
        |    FROM adj JOIN r1 r ON adj.src = r.id JOIN outw ON adj.src = outw.id
        |    GROUP BY adj.dst) c ON verts.id = c.id),
        |r3 AS (SELECT verts.id,
        |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * (CAST(1 AS DOUBLE) / (SELECT n FROM nn))
        |    + CAST(0.85 AS DOUBLE) * coalesce(c.cs, CAST(0 AS DOUBLE)) AS rank
        |  FROM verts LEFT JOIN (
        |    SELECT adj.dst AS id, sum(r.rank * adj.w / outw.ow) AS cs
        |    FROM adj JOIN r2 r ON adj.src = r.id JOIN outw ON adj.src = outw.id
        |    GROUP BY adj.dst) c ON verts.id = c.id)
        |SELECT id, round(rank, 6) AS rank FROM r3 ORDER BY id""".stripMargin,

    // synchronous LPA unrolled 3 rounds: per round a neighbor-label
    // histogram then the (count DESC, label ASC) top-1 — all-integer
    // arithmetic, so the compare is exact with no rounding
    "graph_label_prop" ->
      s"""$simEdgesCte,
         |l0 AS (SELECT DISTINCT s AS id, s AS label FROM sym),
         |h1 AS (SELECT id, label, CAST(count(*) AS BIGINT) AS c FROM (
         |         SELECT sym.d AS id, l.label FROM sym JOIN l0 l ON sym.s = l.id
         |         UNION ALL SELECT id, label FROM l0) GROUP BY id, label),
         |l1 AS (SELECT id, label FROM (
         |       SELECT id, label, row_number() OVER (
         |         PARTITION BY id ORDER BY c DESC, label ASC) AS rn FROM h1)
         |       WHERE rn = 1),
         |h2 AS (SELECT id, label, CAST(count(*) AS BIGINT) AS c FROM (
         |         SELECT sym.d AS id, l.label FROM sym JOIN l1 l ON sym.s = l.id
         |         UNION ALL SELECT id, label FROM l1) GROUP BY id, label),
         |l2 AS (SELECT id, label FROM (
         |       SELECT id, label, row_number() OVER (
         |         PARTITION BY id ORDER BY c DESC, label ASC) AS rn FROM h2)
         |       WHERE rn = 1),
         |h3 AS (SELECT id, label, CAST(count(*) AS BIGINT) AS c FROM (
         |         SELECT sym.d AS id, l.label FROM sym JOIN l2 l ON sym.s = l.id
         |         UNION ALL SELECT id, label FROM l2) GROUP BY id, label),
         |l3 AS (SELECT id, label FROM (
         |       SELECT id, label, row_number() OVER (
         |         PARTITION BY id ORDER BY c DESC, label ASC) AS rn FROM h3)
         |       WHERE rn = 1)
         |SELECT id AS vec_id, label FROM l3 ORDER BY vec_id""".stripMargin,

    // stub sums over the symmetric adjacency (exact integers), Pearson in
    // the engine's op order: mean = s1/m computed once, num/den each
    // (sum/m − mean·mean), NULL when the degree variance is zero
    "graph_assortativity" ->
      s"""$simEdgesCte,
         |deg AS (SELECT s AS id, CAST(count(*) AS BIGINT) AS d
         |        FROM sym GROUP BY s),
         |pairs AS (SELECT a.d AS j, b.d AS k
         |          FROM sym JOIN deg a ON sym.s = a.id
         |          JOIN deg b ON sym.d = b.id),
         |sums AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |                CAST(sum(j * k) AS BIGINT) AS se,
         |                CAST(sum(j) AS BIGINT) AS s1,
         |                CAST(sum(j * j) AS BIGINT) AS s2 FROM pairs)
         |SELECT m, se, s1, s2,
         |       CASE WHEN CAST(s2 AS DOUBLE) / m
         |                 - (CAST(s1 AS DOUBLE) / m) * (CAST(s1 AS DOUBLE) / m) = 0
         |            THEN NULL
         |            ELSE round((CAST(se AS DOUBLE) / m
         |                        - (CAST(s1 AS DOUBLE) / m) * (CAST(s1 AS DOUBLE) / m))
         |                       / (CAST(s2 AS DOUBLE) / m
         |                          - (CAST(s1 AS DOUBLE) / m) * (CAST(s1 AS DOUBLE) / m)), 6)
         |       END AS assortativity
         |FROM sums""".stripMargin,

    // triangle triples a<b<c (e is already id-canonical), each exploded to
    // its three edges; edges outside any triangle report support 0
    "graph_truss_support" ->
      s"""$simEdgesCte,
         |tri AS (
         |  SELECT e1.s AS a, e1.d AS b, e2.d AS c
         |  FROM e e1 JOIN e e2 ON e1.d = e2.s
         |  JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d),
         |ed AS (SELECT a AS s, b AS d FROM tri
         |       UNION ALL SELECT b, c FROM tri
         |       UNION ALL SELECT a, c FROM tri),
         |sup AS (SELECT s, d, CAST(count(*) AS BIGINT) AS support
         |        FROM ed GROUP BY s, d)
         |SELECT e.s AS src, e.d AS dst,
         |       coalesce(sup.support, CAST(0 AS BIGINT)) AS support
         |FROM e LEFT JOIN sup ON e.s = sup.s AND e.d = sup.d
         |ORDER BY src, dst""".stripMargin,

    // the label-prop unroll again, then the modularity algebra over it: one
    // pass over the labeled symmetric adjacency yields each community's
    // degree sum and doubled internal-edge count; contribution computed in
    // the same double-op order as the engine (div, then squared div)
    "graph_modularity" ->
      s"""$simEdgesCte,
         |l0 AS (SELECT DISTINCT s AS id, s AS label FROM sym),
         |h1 AS (SELECT id, label, CAST(count(*) AS BIGINT) AS c FROM (
         |         SELECT sym.d AS id, l.label FROM sym JOIN l0 l ON sym.s = l.id
         |         UNION ALL SELECT id, label FROM l0) GROUP BY id, label),
         |l1 AS (SELECT id, label FROM (
         |       SELECT id, label, row_number() OVER (
         |         PARTITION BY id ORDER BY c DESC, label ASC) AS rn FROM h1)
         |       WHERE rn = 1),
         |h2 AS (SELECT id, label, CAST(count(*) AS BIGINT) AS c FROM (
         |         SELECT sym.d AS id, l.label FROM sym JOIN l1 l ON sym.s = l.id
         |         UNION ALL SELECT id, label FROM l1) GROUP BY id, label),
         |l2 AS (SELECT id, label FROM (
         |       SELECT id, label, row_number() OVER (
         |         PARTITION BY id ORDER BY c DESC, label ASC) AS rn FROM h2)
         |       WHERE rn = 1),
         |h3 AS (SELECT id, label, CAST(count(*) AS BIGINT) AS c FROM (
         |         SELECT sym.d AS id, l.label FROM sym JOIN l2 l ON sym.s = l.id
         |         UNION ALL SELECT id, label FROM l2) GROUP BY id, label),
         |l3 AS (SELECT id, label FROM (
         |       SELECT id, label, row_number() OVER (
         |         PARTITION BY id ORDER BY c DESC, label ASC) AS rn FROM h3)
         |       WHERE rn = 1),
         |wl AS (SELECT a.label AS ls, b.label AS ld
         |       FROM sym JOIN l3 a ON sym.s = a.id JOIN l3 b ON sym.d = b.id),
         |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM sym),
         |ag AS (SELECT ls AS label, CAST(count(*) AS BIGINT) AS degree_sum,
         |              CAST(sum(CASE WHEN ls = ld THEN 1 ELSE 0 END) AS BIGINT)
         |                AS internal2
         |       FROM wl GROUP BY ls),
         |nv AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vertices
         |       FROM l3 GROUP BY label)
         |SELECT nv.label, nv.n_vertices,
         |       CAST(coalesce(ag.internal2, 0) / 2 AS BIGINT) AS internal_edges,
         |       coalesce(ag.degree_sum, CAST(0 AS BIGINT)) AS degree_sum,
         |       round(CAST(coalesce(ag.internal2, 0) AS DOUBLE) / m2.m2
         |             - (CAST(coalesce(ag.degree_sum, 0) AS DOUBLE) / m2.m2)
         |               * (CAST(coalesce(ag.degree_sum, 0) AS DOUBLE) / m2.m2), 6)
         |         AS contribution
         |FROM nv LEFT JOIN ag USING (label), m2 ORDER BY nv.label""".stripMargin,

    // distance-2 pairs only (wedge through the shared neighbor), scores in
    // all-DOUBLE arithmetic; round(,6) absorbs sum-order ULP on the two
    // double columns
    "graph_link_predict" ->
      s"""$simEdgesCte,
         |deg AS (SELECT s AS id, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY s),
         |wz AS (SELECT sym.s AS z, sym.d AS n, deg.deg AS zdeg
         |       FROM sym JOIN deg ON sym.s = deg.id),
         |pairs AS (
         |  SELECT x.n AS a, y.n AS b, CAST(count(*) AS BIGINT) AS common,
         |         sum(CAST(1 AS DOUBLE) / ln(CAST(x.zdeg AS DOUBLE))) AS adamic_adar
         |  FROM wz x JOIN wz y ON x.z = y.z AND x.n < y.n
         |  GROUP BY x.n, y.n),
         |nonadj AS (
         |  SELECT p.* FROM pairs p LEFT JOIN sym ON p.a = sym.s AND p.b = sym.d
         |  WHERE sym.s IS NULL)
         |SELECT n.a, n.b, n.common,
         |  round(CAST(n.common AS DOUBLE)
         |        / CAST(da.deg + db.deg - n.common AS DOUBLE), 6) AS jaccard,
         |  round(n.adamic_adar, 6) AS adamic_adar
         |FROM nonadj n JOIN deg da ON n.a = da.id JOIN deg db ON n.b = db.id
         |ORDER BY a, b""".stripMargin,

    // 4 hash-greedy steps unrolled: the md5(walk:idx:step:candidate) argmin
    // is the engine's exact next-vertex rule, so the oracle replays the walk
    // (walk_idx pinned to 0 — the driver row runs one walk per seed)
    "graph_walks" ->
      s"""$simEdgesCte,
         |w0 AS (SELECT DISTINCT s AS walk_id, 0 AS walk_idx, 0 AS step, s AS vertex FROM sym),
         |w1 AS (SELECT w.walk_id, 0 AS walk_idx, 1 AS step, min_by(sym.d,
         |         md5(CAST(w.walk_id AS VARCHAR) || ':0:1:' || CAST(sym.d AS VARCHAR))) AS vertex
         |       FROM w0 w JOIN sym ON w.vertex = sym.s GROUP BY w.walk_id),
         |w2 AS (SELECT w.walk_id, 0 AS walk_idx, 2 AS step, min_by(sym.d,
         |         md5(CAST(w.walk_id AS VARCHAR) || ':0:2:' || CAST(sym.d AS VARCHAR))) AS vertex
         |       FROM w1 w JOIN sym ON w.vertex = sym.s GROUP BY w.walk_id),
         |w3 AS (SELECT w.walk_id, 0 AS walk_idx, 3 AS step, min_by(sym.d,
         |         md5(CAST(w.walk_id AS VARCHAR) || ':0:3:' || CAST(sym.d AS VARCHAR))) AS vertex
         |       FROM w2 w JOIN sym ON w.vertex = sym.s GROUP BY w.walk_id),
         |w4 AS (SELECT w.walk_id, 0 AS walk_idx, 4 AS step, min_by(sym.d,
         |         md5(CAST(w.walk_id AS VARCHAR) || ':0:4:' || CAST(sym.d AS VARCHAR))) AS vertex
         |       FROM w3 w JOIN sym ON w.vertex = sym.s GROUP BY w.walk_id)
         |SELECT walk_id, walk_idx, step, vertex FROM (
         |  SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL
         |  SELECT * FROM w2 UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4)
         |ORDER BY walk_id, step""".stripMargin,

    // bounded BFS levels → min-predecessor per level → walk back from the
    // max reached vertex; the chain is functional so the recursive walk
    // emits exactly one row per step
    "graph_shortest_path" ->
      s"""${simEdgesCte.replace("WITH v AS", "WITH RECURSIVE v AS")},
         |walk(id, dist) AS (
         |  SELECT CAST(0 AS BIGINT), 0
         |  UNION
         |  SELECT s.d, w.dist + 1 FROM walk w JOIN sym s ON w.id = s.s
         |  WHERE w.dist < 8),
         |mind AS (SELECT id, CAST(min(dist) AS INT) AS dist FROM walk GROUP BY id),
         |pred AS (SELECT m.id, min(s.s) AS p
         |         FROM mind m JOIN sym s ON s.d = m.id
         |                     JOIN mind q ON q.id = s.s AND q.dist = m.dist - 1
         |         GROUP BY m.id),
         |path(step, vertex) AS (
         |  SELECT m.dist, m.id FROM mind m WHERE m.id = (SELECT max(id) FROM mind)
         |  UNION ALL
         |  SELECT p2.step - 1, pr.p FROM path p2 JOIN pred pr ON pr.id = p2.vertex
         |  WHERE p2.step > 0)
         |SELECT CAST(step AS INT) AS step, vertex FROM path ORDER BY step""".stripMargin,

    // same md5 orientation; SCC label = min mutually-reachable vertex via a
    // recursive reachability closure (self rows seed it, so singletons and
    // the component minimum both fall out of the mutual join)
    "graph_scc" ->
      s"""${simEdgesCte.replace("WITH v AS", "WITH RECURSIVE v AS")},
         |h AS (SELECT s, d, md5(CAST(s AS VARCHAR) || ':' || CAST(d AS VARCHAR)) AS hx FROM e),
         |o AS (SELECT CASE WHEN substr(hx,1,1) <= '7' THEN s ELSE d END AS src,
         |             CASE WHEN substr(hx,1,1) <= '7' THEN d ELSE s END AS dst,
         |             substr(hx,2,1) AS h2 FROM h),
         |dir AS (SELECT src, dst FROM o
         |        UNION SELECT dst, src FROM o WHERE h2 <= '3'),
         |vv AS (SELECT src AS id FROM dir UNION SELECT dst FROM dir),
         |reach AS (SELECT id AS src, id AS dst FROM vv
         |          UNION SELECT r.src, e2.dst FROM reach r JOIN dir e2 ON r.dst = e2.src)
         |SELECT r1.src AS id, min(r1.dst) AS component
         |FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
         |GROUP BY r1.src ORDER BY id""".stripMargin,

    "graph_betweenness" -> betweennessSql(10),

    // all-sources bounded BFS distances via one recursive CTE, then the
    // same reached/closeness/harmonic aggregates (CAST(1 AS DOUBLE): bare
    // literals are DECIMAL in DuckDB — the pagerank-oracle lesson)
    "graph_closeness" ->
      s"""${simEdgesCte.replace("WITH v AS", "WITH RECURSIVE v AS")},
         |walk(src_id, id, dist) AS (
         |  SELECT s, s, 0 FROM (SELECT DISTINCT s FROM sym) t
         |  UNION
         |  SELECT w.src_id, y.d, w.dist + 1 FROM walk w JOIN sym y ON w.id = y.s
         |  WHERE w.dist < 10),
         |md AS (SELECT src_id, id, min(dist) AS dist FROM walk
         |       GROUP BY src_id, id HAVING min(dist) > 0)
         |SELECT src_id AS id, CAST(count(*) AS BIGINT) AS reached,
         |       round(CAST(count(*) AS DOUBLE) / CAST(sum(dist) AS DOUBLE), 6) AS closeness,
         |       round(sum(CAST(1 AS DOUBLE) / CAST(dist AS DOUBLE)), 6) AS harmonic
         |FROM md GROUP BY src_id ORDER BY id""".stripMargin,

    "graph_hyperball" -> hyperBallSql(8),

    "graph_clustering" ->
      s"""$simEdgesCte,
         |deg AS (SELECT s AS id, CAST(count(*) AS BIGINT) AS degree
         |        FROM sym GROUP BY s),
         |tri AS (
         |  SELECT e1.s AS a, e1.d AS b, e2.d AS c
         |  FROM e e1 JOIN e e2 ON e1.d = e2.s
         |  JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d),
         |tv AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS triangles
         |       FROM (SELECT unnest([a, b, c]) AS u FROM tri) GROUP BY u)
         |SELECT d.id, d.degree,
         |       coalesce(tv.triangles, CAST(0 AS BIGINT)) AS triangles,
         |       CASE WHEN d.degree < 2 THEN CAST(0 AS DOUBLE)
         |            ELSE round(CAST(coalesce(tv.triangles, 0) AS DOUBLE) * 2
         |                       / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
         |       END AS coefficient
         |FROM deg d LEFT JOIN tv USING (id) ORDER BY d.id""".stripMargin,

    // bounded weighted relaxation: walk rows carry (id, cost, hops); UNION
    // dedups repeats, the cost cap (100 > any attainable minimum: weights
    // <= 9 x unweighted diameter <= 8) prunes doomed prefixes, and both
    // engines bound hops at 12 so the contract is identical
    "graph_weighted_dist" ->
      s"""${simEdgesCte.replace("WITH v AS", "WITH RECURSIVE v AS")},
         |we AS (SELECT s, d, (('0x' || substr(md5(CAST(s AS VARCHAR) || ':'
         |           || CAST(d AS VARCHAR)), 1, 1))::INT % 9) + 1 AS w FROM e),
         |wsym AS (SELECT s, d, w FROM we UNION SELECT d, s, w FROM we),
         |walk(id, cost, hops) AS (
         |  SELECT (SELECT min(s) FROM e), 0, 0
         |  UNION
         |  SELECT y.d, wk.cost + y.w, wk.hops + 1
         |  FROM walk wk JOIN wsym y ON wk.id = y.s
         |  WHERE wk.hops < 12 AND wk.cost + y.w < 100)
         |SELECT id, CAST(min(cost) AS BIGINT) AS wdist
         |FROM walk GROUP BY id ORDER BY id""".stripMargin,

    // the oracle rebuilds the identical 4×256 sketch from the same 16-bit
    // md5 slices, then takes the same min-over-rows estimate
    "sketch_heavy_hitters" ->
      """WITH r AS (SELECT unnest(generate_series(0, 3)) AS i),
        |b AS (SELECT l_partkey, r.i AS sketch_row,
        |        (('0x' || substr(md5('cms' || CAST(r.i AS VARCHAR) || ':'
        |            || CAST(l_partkey AS VARCHAR)), 1, 4))::INT) % 256 AS bucket
        |      FROM lineitem, r),
        |sk AS (SELECT sketch_row, bucket, CAST(count(*) AS BIGINT) AS cnt
        |       FROM b GROUP BY sketch_row, bucket),
        |probes AS (SELECT DISTINCT l_partkey, sketch_row, bucket FROM b),
        |est AS (SELECT p.l_partkey,
        |          min(coalesce(sk.cnt, CAST(0 AS BIGINT))) AS cms_count
        |        FROM probes p LEFT JOIN sk USING (sketch_row, bucket)
        |        GROUP BY p.l_partkey),
        |tr AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS true_count
        |       FROM lineitem GROUP BY l_partkey)
        |SELECT e.l_partkey, e.cms_count, t.true_count
        |FROM est e JOIN tr t USING (l_partkey)
        |ORDER BY e.cms_count DESC, e.l_partkey LIMIT 20""".stripMargin,

    // register = first 2 md5 hex chars; rho = 1 + leading zero bits of the
    // next 15 (zero-run length × 4 + a 16-way nibble table) — pure string
    // arithmetic, identical in both engines
    "sketch_hll_registers" ->
      """WITH h AS (SELECT md5(CAST(l_orderkey AS VARCHAR)) AS hx FROM lineitem),
        |x AS (SELECT ('0x' || substr(hx, 1, 2))::INT AS register,
        |             substr(hx, 3, 15) AS tail FROM h),
        |r AS (SELECT register,
        |        CASE WHEN regexp_replace(tail, '^0*', '') = '' THEN 61
        |             ELSE (length(tail) - length(regexp_replace(tail, '^0*', ''))) * 4
        |                  + CASE substr(regexp_replace(tail, '^0*', ''), 1, 1)
        |                      WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |                      WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |                      WHEN '7' THEN 1 ELSE 0 END + 1
        |        END AS rho FROM x)
        |SELECT register, CAST(max(rho) AS INT) AS max_rho
        |FROM r GROUP BY register ORDER BY register""".stripMargin,

    // the same md5 sample gate, per-lang rank window, and lower empirical
    // quantile rank ⌊q·(n-1)⌋+1 (q cast to DOUBLE — DuckDB decimal literals
    // would otherwise round the product differently than Spark's doubles)
    "sketch_quantiles" ->
      """WITH s AS (
        |  SELECT lang, CAST(length(text) AS BIGINT) AS len FROM documents
        |  WHERE ('0x' || substr(md5('graft-qtile' || CAST(doc_id AS VARCHAR)), 1, 4))::INT < 16384),
        |r AS (SELECT lang, len,
        |        row_number() OVER (PARTITION BY lang ORDER BY len) AS rn,
        |        count(*) OVER (PARTITION BY lang) AS n
        |      FROM s)
        |SELECT lang, q, len
        |FROM r CROSS JOIN (SELECT unnest([0.1, 0.5, 0.9]::DOUBLE[]) AS q) qs
        |WHERE rn = CAST(floor(q * (n - 1)) AS BIGINT) + 1
        |ORDER BY lang, q""".stripMargin,

    "text_line_dedup" ->
      """WITH l AS (SELECT doc_id, unnest(str_split(text, ' ')) AS line,
        |                  unnest(generate_series(1, len(str_split(text, ' ')))) AS i
        |           FROM documents),
        |dup AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 400),
        |kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM dup)),
        |stats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM l GROUP BY doc_id),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |               string_agg(line, ' ' ORDER BY i) AS text_out
        |        FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, s.n_lines,
        |       s.n_lines - coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_dropped,
        |       coalesce(a.text_out, '') AS text_out
        |FROM stats s LEFT JOIN agg a USING (doc_id) ORDER BY s.doc_id""".stripMargin,

    // full replay of the ExactSubstr formulation: stride-1 md5 windows ->
    // global frequency >= 2 -> per-doc gaps-and-islands merge (gap > window
    // breaks; span end = last start + window - 1)
    "text_substring_dedup" ->
      """WITH k AS (SELECT doc_id, unnest(generate_series(1, len(text) - 25 + 1)) AS pos, text
        |           FROM documents WHERE len(text) >= 25),
        |h AS (SELECT doc_id, pos, md5(substr(text, pos, 25)) AS h FROM k),
        |dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
        |m AS (SELECT doc_id, pos FROM h WHERE h IN (SELECT h FROM dup)),
        |isl AS (SELECT doc_id, pos,
        |          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 25
        |               THEN 1 ELSE 0 END AS brk
        |        FROM m),
        |g AS (SELECT doc_id, pos,
        |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |      FROM isl)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 24 AS span_end,
        |       max(pos) + 24 - min(pos) + 1 AS span_len
        |FROM g GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,

    "text_bpe_merges" -> bpeSql(20,
      """SELECT round,
        |  regexp_replace(string_split(pair, ' ')[1], '[<>]', '', 'g') AS "left",
        |  regexp_replace(string_split(pair, ' ')[2], '[<>]', '', 'g') AS "right",
        |  CAST(cnt AS BIGINT) AS freq
        |FROM (__MERGES__) ORDER BY round""".stripMargin),

    "text_bpe_vocab" -> bpeSql(20,
      """SELECT regexp_replace(sym, '[<>]', '', 'g') AS symbol,
        |  CAST(sum(freq) AS BIGINT) AS freq
        |FROM (SELECT unnest(string_split(s, ' ')) AS sym, freq FROM __WFINAL__)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "text_bpe_encode" -> bpeSql(20,
      """SELECT doc_id,
        |  CAST(length(s) - length(replace(s, '<', '')) AS BIGINT) AS n_bpe_tokens
        |FROM __DFINAL__ ORDER BY doc_id""".stripMargin),

    // perplexity replay: the model (unigram/bigram counts, V, T) and every
    // per-token log-probability re-derived; first token scores against the
    // unigram, later tokens against the smoothed bigram conditional
    "text_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}0-9]+'), x -> x <> '') AS t
        |  FROM documents),
        |uni AS (SELECT u, CAST(count(*) AS BIGINT) AS cu
        |        FROM (SELECT unnest(t) AS u FROM tok WHERE lang = 'en') GROUP BY u),
        |vt AS (SELECT (SELECT count(*) FROM uni) AS v,
        |              (SELECT coalesce(sum(cu), 0) FROM uni) AS tt),
        |bsplit AS (
        |  SELECT doc_id, lang,
        |    string_split(g, ' ')[1] AS u, string_split(g, ' ')[2] AS w
        |  FROM (SELECT doc_id, lang,
        |          unnest(list_transform(range(1, greatest(len(t), 1)),
        |                                i -> array_to_string(t[i : i + 1], ' '))) AS g
        |        FROM tok)),
        |big AS (SELECT u, w, CAST(count(*) AS BIGINT) AS c
        |        FROM bsplit WHERE lang = 'en' GROUP BY u, w),
        |flp AS (SELECT r.doc_id,
        |          ln(CAST(coalesce(uni.cu, 0) + 1 AS DOUBLE) / CAST(vt.tt + vt.v AS DOUBLE)) AS lp
        |        FROM (SELECT doc_id, t[1] AS w FROM tok
        |              WHERE lang <> 'en' AND len(t) >= 1) r
        |        LEFT JOIN uni ON r.w = uni.u, vt),
        |plp AS (SELECT rp.doc_id,
        |          ln(CAST(coalesce(big.c, 0) + 1 AS DOUBLE)
        |             / CAST(coalesce(uni.cu, 0) + vt.v AS DOUBLE)) AS lp
        |        FROM (SELECT doc_id, u, w FROM bsplit WHERE lang <> 'en') rp
        |        LEFT JOIN big ON rp.u = big.u AND rp.w = big.w
        |        LEFT JOIN uni ON rp.u = uni.u, vt),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |              round(avg(lp), 6) AS avg_logprob,
        |              round(exp(-avg(lp)), 4) AS ppl
        |       FROM (SELECT * FROM flp UNION ALL SELECT * FROM plp) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(sc.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
        |       sc.avg_logprob, sc.ppl
        |FROM (SELECT doc_id FROM documents WHERE lang <> 'en') d
        |LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // DSIR replay: identical tokenization/bigrams (the text_repetition
    // idiom), 16-bit md5 buckets, add-one smoothed log-ratio weights, and
    // the per-doc occurrence-weighted sum
    "text_dsir_scores" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}0-9]+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, greatest(len(t), 1)),
        |                          i -> array_to_string(t[i : i + 1], ' '))) AS gram
        |  FROM tok),
        |b AS (SELECT doc_id, lang,
        |        (('0x' || substr(md5('dsir:' || gram), 1, 4))::INT) % 1024 AS bucket
        |      FROM g),
        |tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM b WHERE lang = 'en' GROUP BY bucket),
        |rawg AS (SELECT doc_id, bucket FROM b WHERE lang <> 'en'),
        |rb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM rawg GROUP BY bucket),
        |tot AS (SELECT (SELECT coalesce(sum(ct), 0) FROM tgt) AS tt,
        |               (SELECT coalesce(sum(cr), 0) FROM rb) AS tr),
        |w AS (SELECT rb.bucket,
        |        ln(CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + 1024 AS DOUBLE))
        |        - ln(CAST(rb.cr + 1 AS DOUBLE) / CAST(tot.tr + 1024 AS DOUBLE)) AS lw
        |      FROM rb LEFT JOIN tgt USING (bucket), tot),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |              round(sum(lw), 6) AS score
        |       FROM rawg JOIN w USING (bucket) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(pd.n_grams, CAST(0 AS BIGINT)) AS n_grams,
        |       coalesce(pd.score, CAST(0 AS DOUBLE)) AS score
        |FROM (SELECT doc_id FROM documents WHERE lang <> 'en') d
        |LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // NB-classifier replay: identical tokenization, unigrams ++ bigrams,
    // 16-bit md5 buckets under the "nbq:" salt, add-one smoothed per-class
    // log-likelihood weights, class prior from doc counts, per-doc sum
    "text_quality_classifier" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}0-9]+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, unnest(t) AS gram FROM tok
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, greatest(len(t), 1)),
        |                          i -> array_to_string(t[i : i + 1], ' '))) AS gram
        |  FROM tok),
        |b AS (SELECT doc_id, lang,
        |        (('0x' || substr(md5('nbq:' || gram), 1, 4))::INT) % 4096 AS bucket
        |      FROM g),
        |hp AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cp
        |       FROM b WHERE lang = 'en' GROUP BY bucket),
        |hn AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cn
        |       FROM b WHERE lang <> 'en' GROUP BY bucket),
        |tot AS (SELECT (SELECT coalesce(sum(cp), 0) FROM hp) AS tp,
        |               (SELECT coalesce(sum(cn), 0) FROM hn) AS tn,
        |               (SELECT count(*) FROM documents WHERE lang = 'en') AS np,
        |               (SELECT count(*) FROM documents WHERE lang <> 'en') AS nn),
        |w AS (SELECT db.bucket,
        |        ln(CAST(coalesce(hp.cp, 0) + 1 AS DOUBLE) / CAST(tot.tp + 4096 AS DOUBLE))
        |        - ln(CAST(coalesce(hn.cn, 0) + 1 AS DOUBLE) / CAST(tot.tn + 4096 AS DOUBLE))
        |          AS lw
        |      FROM (SELECT DISTINCT bucket FROM b) db
        |      LEFT JOIN hp USING (bucket) LEFT JOIN hn USING (bucket), tot),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features, sum(lw) AS fsum
        |       FROM b JOIN w USING (bucket) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       coalesce(pd.n_features, CAST(0 AS BIGINT)) AS n_features,
        |       round(ln(CAST(tot.np AS DOUBLE) / CAST(tot.nn AS DOUBLE))
        |             + coalesce(pd.fsum, 0.0), 6) AS score,
        |       CASE WHEN ln(CAST(tot.np AS DOUBLE) / CAST(tot.nn AS DOUBLE))
        |                  + coalesce(pd.fsum, 0.0) > 0 THEN 1 ELSE 0 END AS predicted
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN pd USING (doc_id), tot ORDER BY d.doc_id""".stripMargin,

    // temperature-mixture replay: per-source char masses, pow(n, alpha)/
    // pow(n, alpha-1) in the same op order, max/sum normalizations, the
    // floor(rate*65536) threshold, and the salted 16-bit gate per doc
    "text_temperature_mix" ->
      """WITH n AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS n
        |           FROM documents GROUP BY source),
        |s AS (SELECT source, n, pow(n, 0.5) AS pa, pow(n, -0.5) AS sc FROM n),
        |tot AS (SELECT sum(pa) AS pt, max(sc) AS mx FROM s),
        |r AS (SELECT source, CAST(n AS BIGINT) AS stratum_tokens,
        |             pa / tot.pt AS p, sc / tot.mx AS keep_rate
        |      FROM s, tot),
        |thr AS (SELECT source, CAST(floor(keep_rate * 65536) AS INT) AS t FROM r),
        |k AS (SELECT d.source, CAST(count(*) AS BIGINT) AS kept_docs
        |      FROM documents d JOIN thr ON d.source IS NOT DISTINCT FROM thr.source
        |      WHERE (('0x' || substr(md5('graft-tmix' || CAST(doc_id AS VARCHAR)), 1, 4))::INT)
        |            < thr.t
        |      GROUP BY d.source)
        |SELECT r.source, r.stratum_tokens, round(r.p, 6) AS p,
        |       round(r.keep_rate, 6) AS keep_rate,
        |       coalesce(k.kept_docs, CAST(0 AS BIGINT)) AS kept_docs
        |FROM r LEFT JOIN k ON r.source IS NOT DISTINCT FROM k.source
        |ORDER BY r.source""".stripMargin,

    // quota replay: the same salted 16-bit hash, (hash, id) rank per
    // language, keep rank <= 10
    "text_quota_sample" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY (('0x' || substr(md5('graft-quota' || CAST(doc_id AS VARCHAR)), 1, 4))::INT),
        |               doc_id) AS sample_rank
        |  FROM documents)
        |SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 10
        |ORDER BY lang, sample_rank""".stripMargin,

    // E-S replay: u = (52 md5 bits + 1) / 2^52 exactly, key = ln(u)/w, top-k
    // by (key desc, id) — membership AND keys must match bit-for-bit
    "text_weighted_sample" ->
      """WITH k AS (
        |  SELECT doc_id, n_chars,
        |    ln((('0x' || substr(md5('graft-wsample' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
        |        + 1) / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS es_key
        |  FROM documents WHERE n_chars > 0),
        |top AS (SELECT * FROM k ORDER BY es_key DESC, doc_id LIMIT 50)
        |SELECT doc_id, n_chars, round(es_key, 6) AS es_key
        |FROM top ORDER BY doc_id""".stripMargin,

    // removal replay: same span derivation, then a per-character kept-position
    // rebuild (the oracle may be naive; the engine folds spans per doc)
    "text_substring_drop" ->
      """WITH k AS (SELECT doc_id, unnest(generate_series(1, len(text) - 25 + 1)) AS pos, text
        |           FROM documents WHERE len(text) >= 25),
        |h AS (SELECT doc_id, pos, md5(substr(text, pos, 25)) AS h FROM k),
        |dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
        |m AS (SELECT doc_id, pos FROM h WHERE h IN (SELECT h FROM dup)),
        |isl AS (SELECT doc_id, pos,
        |          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 25
        |               THEN 1 ELSE 0 END AS brk
        |        FROM m),
        |g AS (SELECT doc_id, pos,
        |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |      FROM isl),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 24 AS e
        |          FROM g GROUP BY doc_id, island),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |               CAST(sum(e - s + 1) AS BIGINT) AS chars_dropped
        |        FROM spans GROUP BY doc_id),
        |pos AS (SELECT doc_id, unnest(generate_series(1, len(text))) AS p, text
        |        FROM documents),
        |kept AS (SELECT pos.doc_id, p, substr(text, p, 1) AS ch
        |         FROM pos LEFT JOIN spans sp
        |           ON pos.doc_id = sp.doc_id AND p >= sp.s AND p <= sp.e
        |         WHERE sp.doc_id IS NULL),
        |outp AS (SELECT doc_id, string_agg(ch, '' ORDER BY p) AS text_out
        |         FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_spans, CAST(0 AS BIGINT)) AS n_spans,
        |       coalesce(a.chars_dropped, CAST(0 AS BIGINT)) AS chars_dropped,
        |       coalesce(o.text_out, '') AS text_out
        |FROM documents d LEFT JOIN agg a USING (doc_id) LEFT JOIN outp o USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // winnowing selection replayed exactly: per-position k-gram hash encoded
    // as 'hash#paddedPos', min over each complete window of 16 starts (short
    // docs keep their single incomplete window), distinct selected anchors
    "text_winnow_fingerprints" ->
      """WITH kg AS (SELECT doc_id, unnest(generate_series(1, len(text) - 8 + 1)) AS pos,
        |                   text, len(text) AS n
        |            FROM documents WHERE len(text) >= 8 AND doc_id < 200),
        |hh AS (SELECT doc_id, pos, n,
        |         md5(substr(text, pos, 8)) || '#' || lpad(CAST(pos AS VARCHAR), 10, '0') AS key
        |       FROM kg),
        |wm AS (SELECT doc_id, pos, n,
        |         min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |                        ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wmin
        |       FROM hh)
        |SELECT DISTINCT doc_id, CAST(substr(wmin, 34, 10) AS BIGINT) AS pos,
        |       substr(wmin, 1, 32) AS h
        |FROM wm WHERE pos <= greatest(n - 7 - 15, 1)
        |ORDER BY doc_id, pos""".stripMargin,

    "text_winnow_guarantee_check" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS span_start,
        |  CAST(NULL AS BIGINT) AS span_end
        |WHERE 1 = 0""".stripMargin,

    // as-of backward with tolerance: the latest in-tolerance purchase IS the
    // nearest previous one, so tolerance-in-join ≡ null-after-match; ties at
    // the matched timestamp break on max p_event_id exactly like the engine
    "events_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_event_id, user_id, ts AS p_ts, value AS p_value
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.event_id, p.p_event_id, p.p_ts, p.p_value,
        |             row_number() OVER (PARTITION BY c.event_id
        |                                ORDER BY p.p_ts DESC, p.p_event_id DESC) AS rn
        |      FROM c JOIN p ON p.user_id = c.user_id AND p.p_ts <= c.ts
        |                   AND date_diff('microsecond', p.p_ts, c.ts) <= 259200000000)
        |SELECT c.event_id, c.user_id, c.ts, j.p_event_id, j.p_ts, j.p_value
        |FROM c LEFT JOIN j ON j.event_id = c.event_id AND j.rn = 1
        |ORDER BY c.event_id""".stripMargin,

    "events_range_join" ->
      """WITH p AS (SELECT event_id AS win_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.win_id, CAST(count(*) AS BIGINT) AS n_events,
        |       min(e.event_id) AS first_event, max(e.event_id) AS last_event
        |FROM p JOIN events e
        |  ON abs(date_diff('microsecond', p.ts, e.ts)) <= 600000000
        |GROUP BY p.win_id ORDER BY p.win_id""".stripMargin
  )
}
