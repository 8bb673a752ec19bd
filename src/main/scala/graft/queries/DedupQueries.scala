package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import Det.{dround, oround}

/** Deduplication operators for a training-data pipeline: exact hashing,
  * MinHash+LSH banding, SimHash hamming buckets, n-gram Jaccard, embedding
  * cosine near-dup (builder brief; reference's own dedup backbone is the
  * content-hash gate, SURVEY.md §2.1 S12).
  *
  * Scale design: every pairwise step is *blocked* — LSH band buckets,
  * simhash values, or labels — never an unblocked O(n²) cross join. The
  * candidate-pair joins are equi-joins on the bucket key, so at 100 TB they
  * shuffle-partition by bucket and AQE handles the skewed buckets.
  * All hashing is sha2 (no murmur) so the DuckDB oracle agrees bit-for-bit.
  */
object DedupQueries extends QueryModule {

  /** Adds a distinct `shingles` array of [[ShingleW]]-token windows from
    * `text` (the near-dup unit shared by the MinHash family and the banding
    * spec). Short docs (<W tokens) yield an empty set — without the guard
    * Spark's sequence(0, -k) descends and slice throws, while the DuckDB
    * twin's empty generate_series is silently empty.
    *
    * W=5 (round 6, was 2): Broder-style w-shingling needs windows long
    * enough that individual shingles are RARE. The round-6 corpus has a
    * ~31-token vocabulary, so 2-token shingles span only ~931 distinct
    * values and every shingle appears in ~240 docs — the doc set holding
    * the globally-minimal shingle hash IS a minhash bucket, so every band
    * bucket held ~290 docs and candidate mass hit 1.3M pairs (42 s at
    * sf0.1). With 5-token windows the shingle space is ~31^5 and observed
    * shingles are near-unique, which restores the rare-feature premise
    * minhash needs. Pair semantics stay "share a rare contiguous run",
    * the standard near-dup definition at web scale. */
  private val ShingleW = 5
  private def shingled(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("toks", split(col("text"), " "))
    .withColumn("shingles", expr(
      s"""CASE WHEN size(toks) >= $ShingleW
              THEN array_distinct(transform(sequence(0, size(toks) - $ShingleW),
                                  i -> concat_ws(' ', slice(toks, i + 1, $ShingleW))))
              ELSE array() END"""))

  /** DuckDB twin of [[shingled]]'s shingle expression. */
  private def oracleShingles: String =
    s"""list_distinct(list_transform(generate_series(1, len(toks) - ${ShingleW - 1}),
                     i -> array_to_string(toks[i:i+${ShingleW - 1}], ' ')))"""

  /** Exact-dedup-first: one representative (min doc_id / text) per distinct
    * content — identical docs share every LSH signature, so candidate mass
    * otherwise grows as Σ n_b² over duplicate groups (measured 191× at 10×
    * data before this collapse). */
  private def collapseExactDups(df: org.apache.spark.sql.DataFrame) = df
    .groupBy(sha2(col("text"), 256).as("ckey"))
    .agg(min("doc_id").as("doc_id"), min("text").as("text"))

  // -- exact dedup over a normalized content key (first 8 tokens) — the
  //    content-hash ingest gate (S12) as a batch profile
  private val exactDedup = QueryDef(
    "q_exact_dedup",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("dedup_key",
          sha2(concat_ws(" ", slice(split(col("text"), " "), 1, 8)), 256))
      d.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("dedup_key").as("n_distinct"),
          (count(lit(1)) - countDistinct("dedup_key")).as("n_dups"))
        .orderBy("lang")
    },
    Some("""
      WITH d AS (SELECT lang,
                   sha256(array_to_string((string_split(text, ' '))[1:8], ' ')) AS dedup_key
                 FROM documents)
      SELECT lang, count(*) AS n_docs,
             count(DISTINCT dedup_key) AS n_distinct,
             count(*) - count(DISTINCT dedup_key) AS n_dups
      FROM d GROUP BY lang ORDER BY lang"""))

  // -- MinHash + LSH: 4 bands × 1 row over 2-token shingles; candidate pairs
  //    share a band minhash; exact Jaccard on shingle sets over candidates.
  //
  //    EXACT-DEDUP-FIRST (round 3): identical documents share every band
  //    signature, so raw-corpus LSH candidate mass grows as Σ n_b² over
  //    duplicate groups — measured 191× runtime at 10× data on the sf1
  //    scale-up (each doc there has 9 exact replicas). Collapsing exact
  //    duplicates to one representative (cheap hash groupBy, the ingest
  //    gate's key) BEFORE signatures is the standard production shape:
  //    near-dup search only ever runs over distinct contents.
  private val MaxBucket = 256

  private val minhashLsh = QueryDef(
    "q_minhash_lsh_neardup",
    (s, dir) => {
      // persist: the shingle-set table feeds three consumers (band minhash +
      // both sides of the candidate-pair join) — cache beats recomputing the
      // split/transform scan 3× (5k rows/MBs at sf0.1; at 100 TB this is a
      // checkpoint to storage instead). withPinned unpersists in finally.
      val d = shingled(collapseExactDups(Tables.documents(s, dir)))
        .select(col("doc_id"), col("shingles"))
      Cached.withPinned(d) { case Seq(d) => // r15: pin + plan-truncate
        // One codegen'd sha2 per shingle; the 4 band hashes are disjoint
        // 64-bit substrings of the single 256-bit digest. The groupBy
        // partial-aggregates map-side, so the shuffle carries only one
        // 4-signature row per doc — the 100 TB-safe LSH shape.
        val sh = d.select(col("doc_id"), explode(col("shingles")).as("shingle"))
          .withColumn("h", sha2(col("shingle"), 256))
        val sigCols = (0 until 4).map(b => min(substring(col("h"), 1 + 16 * b, 16)).as(s"mh$b"))
        val sigs = sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
        val bands = sigs.select(col("doc_id"),
          posexplode(array((0 until 4).map(b => col(s"mh$b")): _*)).as(Seq("band", "mh")))
        // STOP-BUCKET guard: a band bucket with more than MaxBucket docs is
        // non-discriminative (a feature shared by that many docs carries no
        // near-dup signal — the LSH analogue of a stopword) and its pair
        // mass is quadratic in bucket size. Production LSH drops such
        // buckets; the other 3 bands still vote for any genuinely-similar
        // pair. Deterministic (bucket size is a fact of the data), and the
        // oracle mirrors the same HAVING cap.
        val okBuckets = bands.groupBy("band", "mh")
          .agg(count(lit(1)).as("bc")).filter(col("bc") <= MaxBucket)
          .select(col("band"), col("mh"))
        val kept = bands.join(okBuckets, Seq("band", "mh"))
        val cand = kept.as("a").join(kept.as("b"),
            col("a.band") === col("b.band") && col("a.mh") === col("b.mh") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        val sets = d.select(col("doc_id"), col("shingles"))
        val jac = cand
          .join(sets.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shingles", "sa"), "id_a")
          .join(sets.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shingles", "sb"), "id_b")
          .withColumn("jaccard",
            size(array_intersect(col("sa"), col("sb"))).cast("double")
              / size(array_union(col("sa"), col("sb"))))
        jac.agg(count(lit(1)).as("n_candidate_pairs"),
            coalesce(sum(when(col("jaccard") >= 0.2, 1L).otherwise(0L)), lit(0L))
              .as("n_near_dups"),
            coalesce(dround(avg("jaccard"), 4), lit(0.0)).as("avg_jaccard"),
            coalesce(dround(max("jaccard"), 4), lit(0.0)).as("max_jaccard"))
      }
    },
    Some(s"""
      WITH d0 AS (SELECT min(doc_id) AS doc_id, min(text) AS text
                  FROM documents GROUP BY sha256(text)),
        d AS (SELECT doc_id, $oracleShingles AS shingles
                 FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM d0)),
        sh AS (SELECT doc_id, sha256(unnest(shingles)) AS h FROM d),
        bands AS (SELECT doc_id, band,
                    min(substr(h, 1 + 16 * band, 16)) AS mh
                  FROM (SELECT doc_id, h, unnest([0, 1, 2, 3]) AS band FROM sh)
                  GROUP BY doc_id, band),
        ok AS (SELECT band, mh FROM bands GROUP BY band, mh
               HAVING count(*) <= $MaxBucket),
        kept AS (SELECT bands.* FROM bands JOIN ok USING (band, mh)),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM kept a JOIN kept b
                   ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id),
        jac AS (SELECT id_a, id_b,
                  CAST(len(list_filter(da.shingles, x -> list_contains(db.shingles, x))) AS DOUBLE)
                    / (len(da.shingles) + len(db.shingles)
                       - len(list_filter(da.shingles, x -> list_contains(db.shingles, x)))) AS jaccard
                FROM cand JOIN d da ON cand.id_a = da.doc_id
                          JOIN d db ON cand.id_b = db.doc_id)
      SELECT count(*) AS n_candidate_pairs,
             CAST(coalesce(sum(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_near_dups,
             coalesce(${oround("avg(jaccard)", 4)}, 0.0) AS avg_jaccard,
             coalesce(${oround("max(jaccard)", 4)}, 0.0) AS max_jaccard
      FROM jac"""))

  // -- MinHash banding GENERALIZED to r>1 rows per band: 4 bands × 2 rows,
  //    band key = concat of the band's TWO row minhashes (8 hex chars each,
  //    all 8 disjoint substrings of the one sha2 digest — still one hash
  //    per shingle). A pair is a candidate only when BOTH rows agree in
  //    some band: P(candidate) = 1 − (1 − s^r)^b, the steeper S-curve that
  //    suppresses low-similarity collisions (threshold ≈ (1/b)^(1/r) ≈ 0.5
  //    here vs ≈ 0.25 for 4×1). Same one-row-per-doc shuffle shape as
  //    q_minhash_lsh_neardup; r and b tune recall/precision without any
  //    plan change. MinhashBandingSpec charts the S-curve separation.
  private val minhashBandedR2 = QueryDef(
    "q_minhash_banded_r2",
    (s, dir) => {
      val d = shingled(collapseExactDups(Tables.documents(s, dir)))
        .select(col("doc_id"), col("shingles"))
      Cached.withPinned(d) { case Seq(d) => // r15: pin + plan-truncate
        val sh = d.select(col("doc_id"), explode(col("shingles")).as("shingle"))
          .withColumn("h", sha2(col("shingle"), 256))
        // 8 row-minhashes = 8 disjoint 8-char substrings of one digest
        val rowCols = (0 until 8).map(k =>
          min(substring(col("h"), 1 + 8 * k, 8)).as(s"mh$k"))
        val sigs = sh.groupBy("doc_id").agg(rowCols.head, rowCols.tail: _*)
        val bands = sigs.select(col("doc_id"),
          posexplode(array((0 until 4).map(b =>
            concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))): _*))
            .as(Seq("band", "bk")))
        val cand = bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        val sets = d.select(col("doc_id"), col("shingles"))
        val jac = cand
          .join(sets.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shingles", "sa"), "id_a")
          .join(sets.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shingles", "sb"), "id_b")
          .withColumn("jaccard",
            size(array_intersect(col("sa"), col("sb"))).cast("double")
              / size(array_union(col("sa"), col("sb"))))
        jac.agg(count(lit(1)).as("n_candidate_pairs"),
            coalesce(sum(when(col("jaccard") >= 0.2, 1L).otherwise(0L)), lit(0L))
              .as("n_near_dups"),
            coalesce(dround(avg("jaccard"), 4), lit(0.0)).as("avg_jaccard"),
            coalesce(dround(max("jaccard"), 4), lit(0.0)).as("max_jaccard"))
      }
    },
    Some(s"""
      WITH d0 AS (SELECT min(doc_id) AS doc_id, min(text) AS text
                  FROM documents GROUP BY sha256(text)),
        d AS (SELECT doc_id, $oracleShingles AS shingles
                 FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM d0)),
        sh AS (SELECT doc_id, sha256(unnest(shingles)) AS h FROM d),
        bands AS (SELECT doc_id, band,
                    min(substr(h, 1 + 16 * band, 8))
                      || min(substr(h, 9 + 16 * band, 8)) AS bk
                  FROM (SELECT doc_id, h, unnest([0, 1, 2, 3]) AS band FROM sh)
                  GROUP BY doc_id, band),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
        jac AS (SELECT id_a, id_b,
                  CAST(len(list_filter(da.shingles, x -> list_contains(db.shingles, x))) AS DOUBLE)
                    / (len(da.shingles) + len(db.shingles)
                       - len(list_filter(da.shingles, x -> list_contains(db.shingles, x)))) AS jaccard
                FROM cand JOIN d da ON cand.id_a = da.doc_id
                          JOIN d db ON cand.id_b = db.doc_id)
      SELECT count(*) AS n_candidate_pairs,
             CAST(coalesce(sum(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_near_dups,
             coalesce(${oround("avg(jaccard)", 4)}, 0.0) AS avg_jaccard,
             coalesce(${oround("max(jaccard)", 4)}, 0.0) AS max_jaccard
      FROM jac"""))

  /** 16-bit SimHash from distinct tokens: bit i of sha256(token) taken from
    * hex digit i (set iff digit ≥ '8'); simhash bit i set iff the ±1 vote
    * sum over tokens is positive. */
  private def simhashSparkCols = {
    val hiDigits = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    (0 until 16).map { i =>
      sum(when(substring(col("h"), i + 1, 1).isInCollection(hiDigits), 1).otherwise(-1))
        .as(s"v$i")
    }
  }

  /** (doc_id, lang, simhash): the 16-bit SimHash per document. */
  private def simhashFrame(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = Tables.documents(s, dir)
    val tok = d.select(col("doc_id"), col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", sha2(col("tok"), 256))
    val votes = tok.groupBy("doc_id", "lang")
      .agg(simhashSparkCols.head, simhashSparkCols.tail: _*)
    val simhashCol = (0 until 16).map(i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    votes.select(col("doc_id"), col("lang"), simhashCol.as("simhash"))
  }

  /** Histogram of DISTINCT simhash values per lang: (lang, simhash,
    * vid = min doc_id carrying the value, c = doc count). The 16-bit hash
    * space bounds this at 65,536 rows per lang REGARDLESS of corpus size —
    * the reduction that makes the whole simhash family corpus-scale-free
    * past one linear scan (round 6: the doc-level banded self-join went
    * 13.9× super-linear on 10× data because replica-heavy corpora made
    * doc-level buckets quadratic; value-level buckets cannot grow at all). */
  private def simhashValues(sims: org.apache.spark.sql.DataFrame) =
    sims.groupBy("lang", "simhash")
      .agg(min("doc_id").as("vid"), count(lit(1)).as("c"))

  /** Banded candidate generation + exact verify over distinct VALUES:
    * (lang, va, vb, vid_a, vid_b, ca, cb, hamming) for every ordered value
    * pair within hamming 3 — lossless by pigeonhole over the 4 4-bit
    * chunks (pairs with hamming ≤ 3 agree on ≥1 chunk). Doc-level pair
    * counts recover exactly as ca·cb (and C(c,2) within a value). */
  private def valueNearPairs(vals: org.apache.spark.sql.DataFrame) = {
    val bands = vals.select(col("lang"), col("simhash"), col("vid"), col("c"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("chunk", expr("(simhash >> (band * 4)) & 15"))
    bands.as("a").join(bands.as("b"),
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
          col("a.chunk") === col("b.chunk") && col("a.simhash") < col("b.simhash"))
      .select(col("a.lang").as("lang"),
        col("a.simhash").as("va"), col("b.simhash").as("vb"),
        col("a.vid").as("vid_a"), col("b.vid").as("vid_b"),
        col("a.c").as("ca"), col("b.c").as("cb"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct() // a value pair may agree on several chunks
      .filter(col("hamming") <= 3)
  }

  /** DuckDB CTEs for connected components over the simhash hamming-≤3
    * graph (shared by q_neardup_clusters / q_cluster_canonical), on the
    * VALUE graph — round 14 (verdict #4): the r13 doc-level form OOM'd
    * DuckDB at sf10 (>78 GB temp): its brute-force doc-pair edge join is
    * quadratic in per-value multiplicity (a replica-heavy corpus
    * materializes c_v·c_w doc edges per near value pair) and every one
    * of the 8 label rounds materialized a corpus-sized table. Nodes here
    * are distinct (lang, simhash) VALUES — ≤65,536/lang forever, and a
    * 16-bit value has at most C(16,≤3)=697 values within hamming 3, so
    * the edge set is bounded (~23M worst case) REGARDLESS of corpus
    * size; the oracle's memory past the one linear `sims` scan is now
    * corpus-scale-free, the same reduction the Spark side uses. The
    * banded candidate equi-join mirrors the Spark pigeonhole (its
    * losslessness is certified INDEPENDENTLY by q_simhash_hamming's
    * brute-force all-pairs oracle at the small SFs); the GROUPING
    * algorithm stays independent — 8 unrolled min-label + pointer-jump
    * rounds (hop count doubles per round: diameter ≥ 2^8 covered) vs the
    * engine's ConnectedComponents operator. Ends at c8(node, comp),
    * node = vid = min doc_id carrying the value; doc-level stats recover
    * by multiplicity arithmetic on `vals.c`. */
  private def ccOracleCtes: String = {
    val rounds = (1 to 8).map { k =>
      s"""        e$k AS MATERIALIZED (SELECT c.node,
                    least(c.comp, coalesce(min(cm.comp), c.comp)) AS comp
                  FROM c${k - 1} c
                  LEFT JOIN edges2 e ON c.node = e.src
                  LEFT JOIN c${k - 1} cm ON e.dst = cm.node
                  GROUP BY c.node, c.comp),
        c$k AS MATERIALIZED (SELECT a.node, b.comp
                  FROM e$k a JOIN e$k b ON a.comp = b.node)"""
    }.mkString(",\n")
    s"""        vals AS MATERIALIZED (
                  SELECT lang, simhash, CAST(min(doc_id) AS BIGINT) AS vid,
                         CAST(count(*) AS BIGINT) AS c
                  FROM sims GROUP BY lang, simhash),
        vb AS (SELECT lang, simhash, vid, band,
                 (simhash >> (band * 4)) & 15 AS chunk
               FROM (SELECT lang, simhash, vid,
                       unnest([0, 1, 2, 3]) AS band FROM vals)),
        vedges AS (SELECT DISTINCT a.vid AS src, b.vid AS dst
                   FROM vb a JOIN vb b
                     ON a.lang = b.lang AND a.band = b.band
                        AND a.chunk = b.chunk AND a.simhash < b.simhash
                   WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        edges2 AS MATERIALIZED (SELECT src, dst FROM vedges
                   UNION ALL SELECT dst, src FROM vedges),
        c0 AS MATERIALIZED (SELECT vid AS node, vid AS comp FROM vals),
$rounds"""
  }

  /** DuckDB CTEs shared by the simhash-family oracles: sims(doc_id, lang,
    * simhash) built the brute-force way. */
  private def simhashOracleCtes: String = {
    val votes = (0 until 16).map { i =>
      s"sum(CASE WHEN substr(h, ${i + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v$i"
    }.mkString(",\n                  ")
    val simhashExpr = (0 until 16).map(i =>
      s"(CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""tok AS (SELECT doc_id, lang,
                     unnest(list_distinct(string_split(text, ' '))) AS tok
                   FROM documents),
        h AS (SELECT doc_id, lang, sha256(tok) AS h FROM tok),
        votes AS (SELECT doc_id, lang,
                  $votes
                  FROM h GROUP BY doc_id, lang),
        sims AS (SELECT doc_id, lang, $simhashExpr AS simhash FROM votes)"""
  }

  /** Near-dup pairs at hamming ≤ 3 over the 16-bit SimHash.
    *
    * Spark side runs on the DISTINCT-VALUE histogram: docs collapse to
    * (lang, simhash, count) — at most 65,536 rows per lang forever — and
    * the 4×4-bit pigeonhole banding joins VALUES, not docs. Doc-level pair
    * statistics recover exactly by multiplicity arithmetic: a value with c
    * docs contributes C(c,2) hamming-0 pairs, a value pair (v,w) within
    * hamming 3 contributes c_v·c_w pairs. Corpus size only affects the one
    * linear scan that builds the histogram — a replica-heavy 10× corpus
    * costs the same join as 1× (the round-6 fix for the 13.9× super-linear
    * doc-level shape). The DuckDB oracle still brute-forces ALL doc pairs:
    * agreement proves both the pigeonhole blocking and the multiplicity
    * arithmetic lossless. */
  private val simhash = QueryDef(
    "q_simhash_hamming",
    (s, dir) => {
      val sims = simhashFrame(s, dir)
      Cached.withPinned(sims) { case Seq(sims) => // r15: pin + plan-truncate
        val vals = simhashValues(sims)
        val same = vals.filter(col("c") >= 2)
          .select(col("lang"), lit(0).as("hamming"),
            expr("(c * (c - 1)) div 2").as("cnt"))
        val cross = valueNearPairs(vals)
          .select(col("lang"), col("hamming"), (col("ca") * col("cb")).as("cnt"))
        val near = same.unionByName(cross).groupBy("lang")
          .agg(sum("cnt").cast("long").as("n_within_3"),
            dround(sum(col("hamming") * col("cnt")).cast("double") / sum("cnt"), 4)
              .as("avg_hamming_near"),
            min("hamming").as("min_hamming_near"))
        sims.groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .join(near, Seq("lang"), "left")
          .select(col("lang"), col("n_docs"),
            coalesce(col("n_within_3"), lit(0L)).as("n_within_3"),
            col("avg_hamming_near"), col("min_hamming_near"))
          .orderBy("lang")
      }
    },
    Some {
      s"""
      WITH $simhashOracleCtes,
        docs AS (SELECT lang, count(*) AS n_docs FROM sims GROUP BY lang),
        pairs AS (SELECT a.lang AS lang,
                    bit_count(xor(a.simhash, b.simhash)) AS hamming
                  FROM sims a JOIN sims b
                    ON a.lang = b.lang AND a.doc_id < b.doc_id),
        near AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_within_3,
                   ${oround("avg(hamming)", 4)} AS avg_hamming_near,
                   min(hamming) AS min_hamming_near
                 FROM pairs WHERE hamming <= 3 GROUP BY lang)
      SELECT d.lang AS lang, d.n_docs AS n_docs,
             coalesce(n.n_within_3, 0) AS n_within_3,
             n.avg_hamming_near AS avg_hamming_near,
             n.min_hamming_near AS min_hamming_near
      FROM docs d LEFT JOIN near n ON d.lang = n.lang ORDER BY d.lang"""
    })

  /** Dedup CLUSTERS: near-dup pairs → duplicate groups → per-lang group
    * stats. The missing last step of a real training-data dedup: pairs
    * alone don't tell you which docs to drop; components do (keep the min
    * doc_id per group as canonical).
    *
    * Spark: banded near pairs (lossless, see q_simhash_hamming) as edges →
    * ConnectedComponents min-label propagation (O(diameter) shuffle
    * rounds, no driver-side graph). DuckDB oracle: brute-force pairs +
    * WITH RECURSIVE transitive closure — an independent algorithm on an
    * independently-generated edge set certifying the whole chain. */
  private val neardupClusters = QueryDef(
    "q_neardup_clusters",
    (s, dir) => {
      val sims = simhashFrame(s, dir)
      Cached.withPinned(sims) { case Seq(sims) => // r15: pin + plan-truncate
        // Components over the VALUE graph (node = distinct (lang, simhash),
        // node id = min doc_id carrying it, weight = doc count): docs with
        // equal simhash are hamming-0-connected, so they are by definition
        // in their value's component — propagating labels over ≤65,536
        // value nodes per lang instead of every doc keeps the iterative
        // step corpus-scale-free; doc-level stats recover by weight.
        val vals = simhashValues(sims)
        val comp = graft.operators.ConnectedComponents.run(
          vals.select(col("vid").as("id")),
          valueNearPairs(vals).select(col("vid_a").as("src"), col("vid_b").as("dst")))
        val labeled = vals.join(comp, vals("vid") === comp("id"))
        val sized = labeled.groupBy("comp").agg(sum("c").cast("long").as("sz"))
        labeled.join(sized, "comp")
          .groupBy("lang")
          .agg(sum("c").cast("long").as("n_docs"),
            countDistinct("comp").as("n_clusters"),
            sum(when(col("sz") >= 2, col("c")).otherwise(lit(0L))).cast("long")
              .as("n_dup_docs"),
            max("sz").as("max_cluster_size"))
          .orderBy("lang")
      }
    },
    Some {
      // Label propagation UNROLLED instead of WITH RECURSIVE transitive
      // closure: the closure materializes O(n·|component|) reach rows and
      // timed out at the 10× scale factor (round-3 residual). Each round
      // k below is linear in |edges|: e_k = min label over self+neighbors,
      // c_k = pointer jump (label := label's label — doubles the effective
      // hop count, so 8 rounds cover diameter ≥ 2^8). The edge set stays
      // the independent brute-force one; only the grouping algorithm
      // changed.
      // AS MATERIALIZED throughout: DuckDB inlines single-reference CTEs,
      // and each round references the previous one twice — inlined, the
      // chain expands 2^8 ways and every leaf re-opens the parquet file
      // ("Too many open files").
      s"""
      WITH $simhashOracleCtes,
$ccOracleCtes,
        comp AS (SELECT node AS vid, comp FROM c8),
        per AS (SELECT v.lang, c.comp, v.c
                FROM vals v JOIN comp c ON v.vid = c.vid),
        cs AS (SELECT comp, CAST(sum(c) AS BIGINT) AS sz
               FROM per GROUP BY comp)
      SELECT p.lang AS lang, CAST(sum(p.c) AS BIGINT) AS n_docs,
             count(DISTINCT p.comp) AS n_clusters,
             CAST(sum(CASE WHEN cs.sz >= 2 THEN p.c ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
             max(cs.sz) AS max_cluster_size
      FROM per p JOIN cs ON p.comp = cs.comp
      GROUP BY p.lang ORDER BY p.lang"""
    },
    bench = false) // iterative fixpoint — correctness query, not a timed one

  // -- canonical-representative selection: near-dup clustering only says
  //    WHICH docs are duplicates; a curation pipeline must then pick the
  //    copy to KEEP. Rule: per cluster, the longest document (most
  //    tokens), ties to the smallest doc_id — deterministic under any
  //    partitioning, encoded as max(struct(ntok, -doc_id)) in Spark and
  //    the matching (ntok DESC, doc_id ASC) row_number in the oracle.
  //    `canon_id_sum` certifies the SELECTION identity (the actual kept
  //    doc ids), not just counts: label VALUES differ between the two
  //    engines' CC implementations, but the cluster PARTITION is the
  //    same, so argmax-per-cluster must agree. Same corpus-scale-free
  //    value-level CC as q_neardup_clusters (≤65,536 nodes per lang);
  //    doc-level facts join back by (lang, simhash).
  private val clusterCanonical = QueryDef(
    "q_cluster_canonical",
    (s, dir) => {
      val sims = simhashFrame(s, dir)
      Cached.withPinned(sims) { case Seq(sims) => // r15: pin + plan-truncate
        val vals = simhashValues(sims)
        val comp = graft.operators.ConnectedComponents.run(
          vals.select(col("vid").as("id")),
          valueNearPairs(vals).select(col("vid_a").as("src"),
            col("vid_b").as("dst")))
        val docComp = sims
          .join(vals.select(col("lang"), col("simhash"), col("vid")),
            Seq("lang", "simhash"))
          .join(comp, col("vid") === col("id"))
          .select(col("doc_id"), col("lang"), col("comp"))
        val toks = Tables.documents(s, dir).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        val perCluster = docComp.join(toks, "doc_id")
          .groupBy("lang", "comp")
          .agg(count(lit(1)).as("sz"), sum("ntok").as("tok_total"),
            max(struct(col("ntok"), (-col("doc_id")).as("nid"))).as("best"))
        perCluster.groupBy("lang")
          .agg(sum("sz").as("n_docs"),
            count(lit(1)).as("n_clusters"),
            (sum("sz") - count(lit(1))).as("n_dropped"),
            sum(col("best.ntok")).as("tok_kept"),
            sum("tok_total").as("tok_total"),
            sum(expr("-best.nid")).as("canon_id_sum"))
          .orderBy("lang")
      }
    },
    Some(s"""
      WITH $simhashOracleCtes,
$ccOracleCtes,
        comp AS (SELECT node AS vid, comp FROM c8),
        toks AS (SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
                 FROM documents),
        docs AS (SELECT s.lang, c.comp, s.doc_id, t.ntok
                 FROM sims s JOIN vals v ON s.lang = v.lang
                                        AND s.simhash = v.simhash
                             JOIN comp c ON v.vid = c.vid
                             JOIN toks t ON s.doc_id = t.doc_id),
        ranked AS (SELECT lang, comp, doc_id, ntok,
                     row_number() OVER (PARTITION BY lang, comp
                       ORDER BY ntok DESC, doc_id ASC) AS rn
                   FROM docs),
        per AS (SELECT lang, comp, CAST(count(*) AS BIGINT) AS sz,
                  CAST(sum(ntok) AS BIGINT) AS tok_total,
                  CAST(max(CASE WHEN rn = 1 THEN ntok END) AS BIGINT)
                    AS tok_kept,
                  CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
                    AS canon
                FROM ranked GROUP BY lang, comp)
      SELECT lang, CAST(sum(sz) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_clusters,
             CAST(sum(sz) - count(*) AS BIGINT) AS n_dropped,
             CAST(sum(tok_kept) AS BIGINT) AS tok_kept,
             CAST(sum(tok_total) AS BIGINT) AS tok_total,
             CAST(sum(canon) AS BIGINT) AS canon_id_sum
      FROM per GROUP BY lang ORDER BY lang"""),
    bench = false) // same iterative fixpoint as its clustering sibling

  // -- n-gram Jaccard blocked by (lang, token-count bucket): exact trigram
  //    Jaccard inside cheap blocks (the classic blocking alternative to
  //    LSH). Round 13: POSTING-LIST form. The r12 pairwise form joined
  //    whole blocks against themselves (every pair pays an
  //    array_intersect over ~150-gram arrays) — block population grows
  //    linearly with the corpus, so pair mass grows QUADRATICALLY and the
  //    sf10 run blew the 600 s box. The inverted-index form self-joins
  //    the exploded (lang, block, gram) postings: a pair surfaces once
  //    per SHARED gram, so work is Σ_gram (docs-per-gram)² — bounded by
  //    gram rarity, near-linear on real text — and zero-overlap pairs
  //    are never materialized at all; their count comes from the
  //    closed-form C(n,2) per block. Jaccard lands on the 1e-9 integer
  //    grid before any aggregation, so the per-language sums are exact
  //    BIGINT adds — order-free, bit-identical in both engines at any
  //    partitioning (the old double avg survived dround(4) by luck).
  //    Both-empty pairs (docs under 3 tokens) are excluded from the avg
  //    denominator exactly as the pairwise form's NULL 0/0 was.
  //    Round 14 (verdict #2): STOP-GRAM guard. The posting self-join's
  //    work is Σ_gram df² — "bounded by gram rarity" holds for real text,
  //    but ONE boilerplate trigram shared by a whole (lang, block) cell
  //    makes that key's pair mass quadratic again (the same skewed-key
  //    class the MinHash family caps with MaxBucket). Grams whose
  //    (lang, block) posting length exceeds [[StopGramCap]] are dropped
  //    from the overlap join in BOTH engines (the oracle mirrors the cap),
  //    and the dropped mass is reported in-result (`n_stop_grams`,
  //    `stop_postings`) — no silent truncation. A ubiquitous gram carries
  //    near-zero dedup signal anyway (every pair shares it), so capping it
  //    biases jaccard DOWN only for pairs whose overlap was mostly
  //    boilerplate — the LSH-family trade-off, now deterministic and
  //    certified. NgramStopGramSpec plants such a gram and pins both the
  //    bounded pair mass and the reported drop columns.
  //    Round 14b: DISTINCT-TEXT collapse before the posting join (the
  //    round-6 LSH lesson, measured 178 s at sf10 in doc-level form on
  //    the replica-heavy synthetic corpus). Identical texts share every
  //    gram, so doc-level postings multiply df — and Σ df² pair mass —
  //    quadratically in replica count. The overlap join now runs on
  //    distinct (lang, text) VALUES carrying weight c; doc-level stats
  //    recover exactly by multiplicity arithmetic: a value pair (v, w)
  //    sharing kept grams contributes c_v·c_w pairs at the pair's
  //    jaccard, and a value with c ≥ 2 contributes C(c,2) identical-text
  //    pairs at jaccard k/(2·sz − k) over its k kept grams. The oracle
  //    stays the UNCHANGED doc-level form, so the hash gate proves the
  //    multiplicity algebra lossless (the q_simhash_hamming discipline).
  private[queries] val StopGramCap = 256
  private val ngramJaccard = QueryDef(
    "q_ngram_jaccard_blocked",
    (s, dir) => {
      val d0 = Tables.documents(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("block", (size(col("toks")) / lit(10)).cast("long"))
        // same short-doc guard as `shingled`: <3 tokens → no trigrams
        .withColumn("grams", expr(
          """CASE WHEN size(toks) >= 3
                  THEN array_distinct(transform(sequence(0, size(toks) - 3),
                                      i -> concat_ws(' ', slice(toks, i + 1, 3))))
                  ELSE array() END"""))
        .select(col("doc_id"), col("lang"), sha2(col("text"), 256).as("h"),
          col("block"), size(col("grams")).cast("long").as("sz"), col("grams"))
      // distinct-text values: block/sz/grams are functions of the text, so
      // first() is deterministic within a (lang, hash) group
      val vals = d0.groupBy("lang", "h")
        .agg(min("doc_id").as("vid"), count(lit(1)).as("c"),
          first("block").as("block"), first("sz").as("sz"),
          first("grams").as("grams"))
        .select("lang", "block", "vid", "c", "sz", "grams")
      val exv = vals.select(col("lang"), col("block"), col("vid"), col("c"),
        col("sz"), explode(col("grams")).as("g"))
      // posting census per gram key, DOC-weighted (sum of value weights) so
      // the stop-gram cap and the reported drop mass keep doc semantics
      val pf = exv.groupBy("lang", "block", "g").agg(sum("c").as("df"))
      Cached.withPinned(vals, pf) { case Seq(vals, pf) => // r15: pin + plan-truncate
        // closed-form pair counts per (lang, block) cell, recovered from
        // the value weights (n = Σc, ne = Σc over empty values) — the
        // doc-level frame itself never needs pinning
        val cells = vals.groupBy("lang", "block")
          .agg(sum("c").as("n"),
            sum(when(col("sz") === 0, col("c")).otherwise(0L)).as("ne"))
        val perLangPairs = cells.groupBy("lang")
          .agg(sum(expr("n * (n - 1) DIV 2")).as("n_pairs"),
            sum(expr("n * (n - 1) DIV 2 - ne * (ne - 1) DIV 2"))
              .as("n_denom"))
        val kept = exv.join(
          pf.filter(col("df") <= StopGramCap).select("lang", "block", "g"),
          Seq("lang", "block", "g"))
        val stops = pf.filter(col("df") > StopGramCap).groupBy("lang")
          .agg(count(lit(1)).as("n_stop_grams"),
            sum("df").as("stop_postings"))
        // cross-value overlaps: one row per value pair sharing ≥1 kept
        // gram, expanded to c_v·c_w doc pairs by weight
        val ovx = kept.as("a").join(kept.as("b"),
            col("a.lang") === col("b.lang") &&
              col("a.block") === col("b.block") &&
              col("a.g") === col("b.g") &&
              col("a.vid") < col("b.vid"))
          .groupBy(col("a.lang").as("lang"), col("a.block").as("block"),
            col("a.vid").as("va"), col("b.vid").as("vb"),
            col("a.sz").as("sza"), col("b.sz").as("szb"),
            col("a.c").as("ca"), col("b.c").as("cb"))
          .agg(count(lit(1)).as("isect"))
          .select(col("lang"), (col("ca") * col("cb")).as("cnt"),
            expr("(isect * 1000000000L) DIV (sza + szb - isect)").as("jacc_u"))
        // within-value (identical-text) pairs: k kept grams of sz total →
        // doc-level jaccard k/(2·sz − k); present iff the value kept ≥1
        // gram (a row in `kept` implies k ≥ 1), exactly as a doc-level
        // pair needs ≥1 shared kept gram to surface
        val ovw = kept.groupBy("lang", "vid")
          .agg(count(lit(1)).as("k"), first("sz").as("sz"),
            first("c").as("c"))
          .filter(col("c") >= 2)
          .select(col("lang"), expr("c * (c - 1) DIV 2").as("cnt"),
            expr("(k * 1000000000L) DIV (2 * sz - k)").as("jacc_u"))
        val ovLang = ovx.unionByName(ovw).groupBy("lang")
          .agg(sum("cnt").as("n_overlapping"),
            sum(col("cnt") * col("jacc_u")).as("sum_jacc_u"),
            max("jacc_u").as("max_jacc_u"))
        perLangPairs.join(ovLang, Seq("lang"), "left")
          .join(stops, Seq("lang"), "left")
          .select(col("lang"), col("n_pairs"),
            coalesce(col("n_overlapping"), lit(0L)).as("n_overlapping"),
            // n_denom = 0 (every pair both-empty) → NULL in both engines:
            // Spark's Divide would NULL on /0 but DuckDB's double division
            // can yield inf/nan — guard the denominator explicitly (r14
            // advisor)
            when(col("n_denom") > 0,
              dround(coalesce(col("sum_jacc_u"), lit(0L)).cast("double")
                / lit(1e9) / col("n_denom"), 4)).as("avg_jaccard"),
            dround(coalesce(col("max_jacc_u"), lit(0L)).cast("double")
              / lit(1e9), 4).as("max_jaccard"),
            coalesce(col("n_stop_grams"), lit(0L)).as("n_stop_grams"),
            coalesce(col("stop_postings"), lit(0L)).as("stop_postings"))
          .orderBy("lang")
      }
    },
    Some(s"""
      WITH d AS (SELECT doc_id, lang,
                   CAST(len(toks) // 10 AS BIGINT) AS block,
                   list_distinct(list_transform(generate_series(1, len(toks) - 2),
                     i -> array_to_string(toks[i:i+2], ' '))) AS grams
                 FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)),
        dd AS MATERIALIZED (SELECT doc_id, lang, block,
                CAST(len(grams) AS BIGINT) AS sz, grams FROM d),
        cells AS (SELECT lang, block, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CASE WHEN sz = 0 THEN 1 ELSE 0 END) AS BIGINT)
                      AS ne
                  FROM dd GROUP BY lang, block),
        plp AS (SELECT lang,
                  CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_pairs,
                  CAST(sum(n * (n - 1) // 2 - ne * (ne - 1) // 2) AS BIGINT)
                    AS n_denom
                FROM cells GROUP BY lang),
        ex AS MATERIALIZED (SELECT doc_id, lang, block, sz,
                unnest(grams) AS g FROM dd),
        pf AS MATERIALIZED (SELECT lang, block, g,
                CAST(count(*) AS BIGINT) AS df
              FROM ex GROUP BY 1, 2, 3),
        kept AS (SELECT ex.doc_id, ex.lang, ex.block, ex.sz, ex.g
                 FROM ex JOIN pf
                   ON ex.lang = pf.lang AND ex.block = pf.block
                      AND ex.g = pf.g
                 WHERE pf.df <= $StopGramCap),
        stops AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_stop_grams,
                    CAST(sum(df) AS BIGINT) AS stop_postings
                  FROM pf WHERE df > $StopGramCap GROUP BY lang),
        ov AS (SELECT a.lang AS lang, a.doc_id AS da, b.doc_id AS db,
                 a.sz AS sza, b.sz AS szb,
                 CAST(count(*) AS BIGINT) AS isect
               FROM kept a JOIN kept b
                 ON a.lang = b.lang AND a.block = b.block AND a.g = b.g
                    AND a.doc_id < b.doc_id
               GROUP BY 1, 2, 3, 4, 5),
        ovj AS (SELECT lang,
                  (isect * 1000000000) // (sza + szb - isect) AS jacc_u
                FROM ov),
        ovl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_overlapping,
                  CAST(sum(jacc_u) AS BIGINT) AS sum_jacc_u,
                  CAST(max(jacc_u) AS BIGINT) AS max_jacc_u
                FROM ovj GROUP BY lang)
      SELECT plp.lang, plp.n_pairs,
             CAST(coalesce(ovl.n_overlapping, 0) AS BIGINT) AS n_overlapping,
             CASE WHEN plp.n_denom > 0 THEN ${oround(
               "CAST(coalesce(ovl.sum_jacc_u, 0) AS DOUBLE) / 1e9 / plp.n_denom",
               4)} END AS avg_jaccard,
             ${oround("CAST(coalesce(ovl.max_jacc_u, 0) AS DOUBLE) / 1e9", 4)}
               AS max_jaccard,
             CAST(coalesce(st.n_stop_grams, 0) AS BIGINT) AS n_stop_grams,
             CAST(coalesce(st.stop_postings, 0) AS BIGINT) AS stop_postings
      FROM plp LEFT JOIN ovl ON plp.lang = ovl.lang
           LEFT JOIN stops st ON plp.lang = st.lang
      ORDER BY plp.lang"""))

  // -- embedding cosine near-dup, blocked on (label, sign-LSH bucket) — the
  //    same 16-bucket hash the ANN path uses (EmbeddingQueries.bucketSpark).
  //    Candidates are same-bucket pairs only: candidate volume scales with
  //    Σ bucket² instead of Σ label² (quadratic-in-n within a label was the
  //    100 TB killer). Sign-LSH is probabilistic — a ≥0.3-cosine pair CAN
  //    land in different buckets; the oracle mirrors the same blocking, so
  //    the check certifies the blocked computation, and recall is the
  //    documented LSH trade-off (tune bucket bits per corpus).
  private val embeddingNearDup = QueryDef(
    "q_embedding_neardup",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("bucket", EmbeddingQueries.bucketSpark)
        .withColumn("vecd", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("nrm", graft.functions.VectorFunctions.vecNorm(col("vecd")))
        .select(col("vec_id"), col("label"), col("bucket"), col("vecd"), col("nrm"))
      val pairs = e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .withColumn("cosine", graft.functions.VectorFunctions.cosine(
          col("a.vecd"), col("b.vecd"), col("a.nrm"), col("b.nrm")))
      pairs.groupBy(col("a.label").as("label"))
        .agg(count(lit(1)).as("n_candidate_pairs"),
          sum(when(col("cosine") >= 0.3, 1).otherwise(0)).as("n_near"),
          dround(avg("cosine"), 4).as("avg_cosine"),
          dround(max("cosine"), 4).as("max_cosine"))
        .orderBy("label")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, label, ${EmbeddingQueries.bucketSql} AS bucket,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd,
                   sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
                 FROM embeddings),
        pairs AS (SELECT a.label AS label,
                    list_sum(list_transform(list_zip(a.vecd, b.vecd),
                      x -> x[1] * x[2])) / (a.nrm * b.nrm) AS cosine
                  FROM e a JOIN e b
                    ON a.label = b.label AND a.bucket = b.bucket
                       AND a.vec_id < b.vec_id)
      SELECT label, count(*) AS n_candidate_pairs,
             CAST(sum(CASE WHEN cosine >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
             ${oround("avg(cosine)", 4)} AS avg_cosine,
             ${oround("max(cosine)", 4)} AS max_cosine
      FROM pairs GROUP BY label ORDER BY label"""))

  // -- benchmark-contamination detection: flag training docs that overlap
  //    an evaluation set (docs 0-24 stand in for the benchmark) by ≥5
  //    shared ShingleW-token shingles. The benchmark shingle set is tiny by
  //    nature → broadcast; the corpus side is one scan + explode with
  //    map-side-combined per-doc match counts — the shape that lets a
  //    100 TB corpus be swept against any eval suite without a shuffle of
  //    the big side.
  private val contamination = QueryDef(
    "q_contamination",
    (s, dir) => {
      val d = shingled(Tables.documents(s, dir))
      val bench = d.filter(col("doc_id") < 25)
        .select(explode(col("shingles")).as("sh")).distinct()
      val corpus = d.filter(col("doc_id") >= 25)
        .select(col("doc_id"), col("lang"), explode(col("shingles")).as("sh"))
      val overlap = corpus.join(broadcast(bench), "sh")
        .groupBy("doc_id", "lang").agg(count(lit(1)).as("n_overlap"))
      val perDoc = d.filter(col("doc_id") >= 25).select("doc_id", "lang")
        .join(overlap, Seq("doc_id", "lang"), "left")
        .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      perDoc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs_checked"),
          sum(when(col("n_overlap") >= 5, 1L).otherwise(0L)).as("n_contaminated"),
          max("n_overlap").as("max_overlap"),
          dround(avg("n_overlap"), 4).as("avg_overlap"))
        .orderBy("lang")
    },
    Some(s"""
      WITH d AS (SELECT doc_id, lang, $oracleShingles AS shingles
                 FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
                       FROM documents)),
        bench AS (SELECT DISTINCT unnest(shingles) AS sh FROM d WHERE doc_id < 25),
        corpus AS (SELECT doc_id, lang, unnest(shingles) AS sh FROM d
                   WHERE doc_id >= 25),
        overlap AS (SELECT corpus.doc_id, corpus.lang, count(*) AS n_overlap
                    FROM corpus JOIN bench ON corpus.sh = bench.sh
                    GROUP BY corpus.doc_id, corpus.lang),
        per AS (SELECT d.doc_id, d.lang, coalesce(o.n_overlap, 0) AS n_overlap
                FROM d LEFT JOIN overlap o ON d.doc_id = o.doc_id
                WHERE d.doc_id >= 25)
      SELECT lang, count(*) AS n_docs_checked,
             CAST(sum(CASE WHEN n_overlap >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
             CAST(max(n_overlap) AS BIGINT) AS max_overlap,
             ${oround("avg(n_overlap)", 4)} AS avg_overlap
      FROM per GROUP BY lang ORDER BY lang"""))

  // -- cross-document passage dedup (repeated-boilerplate detection):
  //    8-token windows at stride 4 per doc, grouped globally — a passage
  //    seen in ≥2 distinct docs is shared boilerplate/duplicated content.
  //    Linear in corpus size (explode + map-side-combined groupBys; no
  //    pairwise step at all), which is why passage-level dedup scales
  //    where pairwise diffing cannot. At 100 TB the group key is the
  //    passage HASH (the string here keeps the oracle twin 1:1).
  //
  //    COMPUTE-PER-DISTINCT-CONTENT (round 4): windows are a pure function
  //    of text, so on a dup-heavy corpus (sf1: 9 replicas per doc) the
  //    window build + shuffle is done once per distinct content and the
  //    per-passage doc/window counts recovered by weighting with the
  //    replication count m: every replica contains the same windows, so
  //    n(p) = Σ_text occ(p, text)·m(text) and nd(p) = Σ_text m(text) over
  //    texts containing p. Measured 11.2 s → ~1 s at sf1; exact same
  //    output (the oracle still computes from the raw corpus).
  private val passageDedup = QueryDef(
    "q_passage_dedup",
    (s, dir) => {
      val dist = Tables.documents(s, dir)
        .groupBy(sha2(col("text"), 256).as("ckey"))
        .agg(min("text").as("text"), count(lit(1)).as("m"))
        .withColumn("toks", split(col("text"), " "))
        .withColumn("passages", expr(
          """CASE WHEN size(toks) >= 8
                  THEN transform(sequence(0, (size(toks) - 8) div 4),
                                 i -> concat_ws(' ', slice(toks, 4 * i + 1, 8)))
                  ELSE array() END"""))
      val w = dist.select(col("ckey"), col("m"), explode(col("passages")).as("p"))
      val perText = w.groupBy("ckey", "p")
        .agg(count(lit(1)).as("occ"), first("m").as("m"))
      perText.groupBy("p")
        .agg(sum("m").as("nd"), sum(col("occ") * col("m")).as("n"))
        .agg(sum("n").as("n_windows"),
          count(lit(1)).as("n_distinct_passages"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_cross_doc_passages"))
    },
    Some("""
      WITH w AS (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(toks) - 7, 4),
                     i -> array_to_string(toks[i:i+7], ' '))) AS p
                 FROM (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents)),
        byp AS (SELECT p, count(DISTINCT doc_id) AS nd, count(*) AS n
                FROM w GROUP BY p)
      SELECT CAST(sum(n) AS BIGINT) AS n_windows,
             count(*) AS n_distinct_passages,
             CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_doc_passages
      FROM byp"""))

  // -- Blocked edit-distance (Levenshtein) similarity join — the fuzzy-dedup
  //    class the sketch family can't express: an EXACT small-edit guarantee
  //    on the 120-char prefix, for catching near-identical boilerplate that
  //    tokenized sketches blur. Three nested prune layers keep it off the
  //    O(n²) cliff at 100 TB:
  //      1. exact-dedup-first (same as MinHash): identical texts collapse to
  //         one representative before any pairing, so duplicate mass never
  //         multiplies candidates;
  //      2. blocking on the first-2-token key: pairs form only inside a
  //         block (equi-join, shuffles on the block key — never all-pairs);
  //      3. the length lower bound |len(a)−len(b)| ≤ d (edit distance is at
  //         least the length difference) runs as a cheap codegen'd filter
  //         BEFORE the O(len²) DP evaluates.
  //    At web scale the block key graduates to (first tokens, length band)
  //    and skewed blocks split via AQE — the shape stays an equi-join.
  private val DistMax = 20
  private val fuzzyNeardupJoin = QueryDef(
    "q_fuzzy_neardup_join",
    (s, dir) => {
      val c = Tables.documents(s, dir)
        .groupBy("text")
        .agg(min("doc_id").as("rep"), count(lit(1)).as("n"))
      // r15: pin the (distinct-text-sized) block frame — both join sides
      // read it, and unpinned each side re-executed the full
      // groupBy(text) collapse over documents.
      Cached.withPinned(c.select(col("rep"), col("n"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("blk"),
          substring(col("text"), 1, 120).as("pfx"))) { case Seq(d) =>
        val a = d.select(col("blk"), col("rep").as("doc_a"),
          col("n").as("n_a"), col("pfx").as("pfx_a"))
        val b = d.select(col("blk"), col("rep").as("doc_b"),
          col("n").as("n_b"), col("pfx").as("pfx_b"))
        a.join(b, Seq("blk"))
          .filter(col("doc_a") < col("doc_b"))
          .filter(abs(length(col("pfx_a")) - length(col("pfx_b"))) <= DistMax)
          .withColumn("dist",
            levenshtein(col("pfx_a"), col("pfx_b")).cast("long"))
          .filter(col("dist") <= DistMax)
          .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
            col("dist"))
          .orderBy("doc_a", "doc_b")
      }
    },
    Some(s"""
      WITH c AS (SELECT text, min(doc_id) AS rep, count(*) AS n
                 FROM documents GROUP BY text),
        d AS (SELECT rep, n,
                array_to_string((string_split(text, ' '))[1:2], ' ') AS blk,
                substr(text, 1, 120) AS pfx
              FROM c)
      SELECT a.rep AS doc_a, b.rep AS doc_b, a.n AS n_a, b.n AS n_b,
             CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
      FROM d a JOIN d b ON a.blk = b.blk AND a.rep < b.rep
      WHERE abs(length(a.pfx) - length(b.pfx)) <= $DistMax
        AND levenshtein(a.pfx, b.pfx) <= $DistMax
      ORDER BY doc_a, doc_b"""))

  // -- S12 at broadcast scale: Bloom-gated ingest dedup. The exact gate
  //    (q_dedup_gate) anti-joins EVERY incoming row against the seen-key
  //    set — at 100 TB that shuffles the whole batch to compare against a
  //    corpus that is mostly irrelevant to it. The production shape: build
  //    a ~1 MiB mergeable Bloom filter over the seen keys in ONE pass
  //    (BloomFilterAgg — partitions OR their bit arrays at the exchange,
  //    duplicate inserts are free, no distinct), ship it in the plan, and
  //    probe per-row with the codegen'd BloomMightContain. Filter-negative
  //    rows are DEFINITELY new (Bloom has no false negatives) and bypass
  //    the join entirely; only the positive slice — true dupes plus the
  //    designed ~1e-3 FP tail — pays the exact left_anti verify join. The
  //    final row set is therefore bit-identical to the exact gate no
  //    matter the FP rate, which is exactly what the oracle (plain exact
  //    anti-join semantics, no Bloom) certifies.
  //
  //    Reference analog: the content-hash skip gate that re-queries the
  //    seen-hash store per document (app/pipelines/document_parser.py:61-77).
  private val BloomNumBits = 1 << 23 // 1 MiB; FP < 1e-3 up to ~1M keys at j=5
  private val BloomNumHashes = 5

  private val bloomDedupGate = QueryDef(
    "q_bloom_dedup_gate",
    (s, dir) => {
      import org.apache.spark.sql.graft.BloomFunctions
      val d = Tables.documents(s, dir)
        .withColumn("dedup_key",
          sha2(concat_ws(" ", slice(split(col("text"), " "), 1, 8)), 256))
        // probe key: xxhash64 of the content hash — never crosses the
        // oracle boundary (the oracle verifies the exact row set, not the
        // filter), so the fast codegen'd hash is fine here
        .withColumn("kh", xxhash64(col("dedup_key")))
        .select("doc_id", "lang", "dedup_key", "kh")
      val seen = d.filter(col("doc_id") % 2 === 0)
      val incoming = d.filter(col("doc_id") % 2 === 1)
      // one-pass filter build, shipped as a BROADCAST of the 1-row
      // aggregate — not a literal: a lit(bytes) filter rides in EVERY
      // task binary (measured 7 MiB task broadcasts), while the
      // broadcast-join block ships once per executor and scales to the
      // 64 MiB filter a 10^9-key corpus needs. Persisted + materialized
      // ONCE (round 5 measured the lazy version building the filter
      // twice — ReuseExchange does NOT dedup the two consuming
      // branches), unpersisted in finally.
      val filterDf = seen.agg(
        BloomFunctions.bloomBuild(col("kh"), BloomNumBits, BloomNumHashes)
          .as("bloom_f"))
      Cached.withPinned(filterDf) { case Seq(filterDf) => // r15: pin + plan-truncate
        // The probe is the JOIN CONDITION against the 1-row filter frame,
        // not a projected column: the 1 MiB binary stays on the broadcast
        // build side of the BNLJ and never enters an output row. Round 5
        // shipped it as a `withColumn(...).drop(...)` ride-along and every
        // probed row materialized a reference to (under spill, a copy of)
        // the array — the 68×-at-sf1 outlier of BENCH_r05.json.
        def probe(f: org.apache.spark.sql.DataFrame) =
          BloomFunctions.bloomMightContain(f("bloom_f"), incoming("kh"))
        val fAnti = broadcast(filterDf)
        val fSemi = broadcast(filterDf)
        // left_anti vs the filter row: no match ⇔ probe false ⇔ the key is
        // DEFINITELY unseen (Bloom has no false negatives) — skip the join.
        val definitelyNew = incoming.join(fAnti, probe(fAnti), "left_anti")
        // left_semi: probe true ⇔ true dupe or FP-tail — pay the exact
        // left_anti verify join against `seen` for just this slice.
        val verifiedNew = graft.sources.Upsert.dedupGate(
          incoming.join(fSemi, probe(fSemi), "left_semi"), seen, "dedup_key")
        definitelyNew.select("doc_id", "lang", "dedup_key", "kh")
          .unionByName(verifiedNew.select("doc_id", "lang", "dedup_key", "kh"))
          .groupBy("lang")
          // distinct over the 64-bit kh, not the 64-char sha2 string (the
          // round-4 exact-countDistinct lesson: string-keyed distinct
          // shuffles 8× the bytes). kh = xxhash64(dedup_key) is 1:1 with
          // the oracle's count(DISTINCT dedup_key) up to a 64-bit
          // collision among ~3e5 keys at sf1 (P ≈ 2e-9, below any other
          // nondeterminism source in the gate).
          .agg(count(lit(1)).as("n_new"),
            countDistinct("kh").as("n_new_distinct"))
          .orderBy("lang")
      }
    },
    Some("""
      WITH d AS (SELECT doc_id, lang,
                   sha256(array_to_string((string_split(text, ' '))[1:8], ' ')) AS dedup_key
                 FROM documents),
        seen AS (SELECT DISTINCT dedup_key FROM d WHERE doc_id % 2 = 0),
        incoming AS (SELECT * FROM d WHERE doc_id % 2 = 1)
      SELECT lang, count(*) AS n_new,
             count(DISTINCT dedup_key) AS n_new_distinct
      FROM incoming
      WHERE dedup_key NOT IN (SELECT dedup_key FROM seen)
      GROUP BY lang ORDER BY lang"""))

  // -- cross-document duplicated-n-gram mass (the substring-level dedup
  //    signal of Lee et al. 2022, "Deduplicating Training Data Makes
  //    Language Models Better"): for each doc, the fraction of its
  //    distinct 3-grams that also occur in at least one OTHER distinct
  //    content. Complements q_doc_repetition (WITHIN-doc Gopher gate) and
  //    q_passage_dedup (per-passage inventory): this is the per-DOC
  //    filterable signal — a doc that is mostly corpus-shared boilerplate
  //    scores near 1 even when no single document near-duplicates it.
  //
  //    Exact-dedup-first as always: identical replicas would mark every
  //    gram shared; the signal is defined over distinct contents. Linear
  //    shape: explode → gram doc-frequency groupBy → equi-join back →
  //    per-doc integer counts; no pairwise step. At 100 TB the join key
  //    is the 64-bit gram hash, not the string (string keeps the oracle
  //    twin 1:1), and the ratio comes from two exact long sums — no
  //    float summation order anywhere.
  private val crossDupMass = QueryDef(
    "q_cross_dup_mass",
    (s, dir) => {
      val c = Tables.documents(s, dir)
        .groupBy(sha2(col("text"), 256).as("ckey"))
        .agg(min("doc_id").as("doc_id"), min("lang").as("lang"),
          min("text").as("text"))
        .withColumn("toks", split(col("text"), " "))
        .withColumn("grams", expr(
          """CASE WHEN size(toks) >= 3
                THEN array_distinct(transform(sequence(0, size(toks) - 3),
                                    i -> concat_ws(' ', slice(toks, i + 1, 3))))
                ELSE array() END"""))
      val dg = c.select(col("doc_id"), col("lang"),
        explode(col("grams")).as("gram"))
      // doc-frequency per gram over distinct contents; dg rows are unique
      // per (doc, gram) by construction, so count(*) IS the doc frequency
      val docFreq = dg.groupBy("gram")
        .agg(count(lit(1)).as("gram_df"))
      val perDoc = dg.join(docFreq, "gram")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("tot"),
          sum(when(col("gram_df") >= 2, 1L).otherwise(0L)).as("dup"))
      perDoc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("dup").as("dup_grams"),
          sum("tot").as("total_grams"),
          sum(when(col("dup") * 2 >= col("tot"), 1L).otherwise(0L))
            .as("n_mostly_dup"))
        .withColumn("dup_mass",
          dround(col("dup_grams").cast("double") / col("total_grams"), 4))
        .select("lang", "n_docs", "dup_grams", "total_grams", "dup_mass",
          "n_mostly_dup")
        .orderBy("lang")
    },
    Some(s"""
      WITH c AS (SELECT min(doc_id) AS doc_id, min(lang) AS lang,
                   min(text) AS text
                 FROM documents GROUP BY sha256(text)),
        g AS (SELECT doc_id, lang,
                CASE WHEN len(toks) >= 3
                     THEN list_distinct(list_transform(
                            generate_series(1, len(toks) - 2),
                            i -> array_to_string(toks[i:i+2], ' ')))
                     ELSE [] END AS grams
              FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
                    FROM c)),
        e AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g),
        f AS (SELECT gram, count(*) AS gram_df FROM e GROUP BY gram),
        pd AS (SELECT e.doc_id, e.lang, count(*) AS tot,
                 CAST(sum(CASE WHEN f.gram_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup
               FROM e JOIN f USING (gram) GROUP BY e.doc_id, e.lang)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(dup) AS BIGINT) AS dup_grams,
             CAST(sum(tot) AS BIGINT) AS total_grams,
             ${oround("CAST(sum(dup) AS DOUBLE) / sum(tot)", 4)} AS dup_mass,
             CAST(sum(CASE WHEN dup * 2 >= tot THEN 1 ELSE 0 END) AS BIGINT) AS n_mostly_dup
      FROM pd GROUP BY lang ORDER BY lang"""))

  // -- entity resolution with a native Jaro-Winkler expression: dirty
  //    aliases matched against the catalog's DISTINCT names under
  //    first-letter + length-band blocking, accepted at similarity ≥
  //    threshold, best candidate per alias. The scorer is the codegen'd
  //    JaroWinkler Expression (org.apache.spark.sql.graft.JaroWinkler) —
  //    a UDF here would box every candidate pair and break the codegen
  //    span around the blocked join.
  //
  //    Scale: names collapse to DISTINCT values first (64 here; bounded
  //    by catalog vocabulary, not row count); the alias side broadcasts;
  //    blocking caps candidates per alias at (names sharing first letter
  //    ∧ |len Δ| ≤ 2), so scoring work is |aliases| × bucket, never
  //    |aliases| × |catalog|. Ranking is per-alias (partitioned window)
  //    on the 1e-8 integer grid with a name tie-break.
  private val JwThreshold = 0.85
  private val erAliases = Seq(
    "blu bolt", "hot gera", "large wiget", "new platee",
    "cold anvill", "smal gizmo", "red widgit", "zzz qqq")

  private val entityResolutionJw = QueryDef(
    "q_entity_resolution_jw",
    (s, dir) => {
      import s.implicits._
      import graft.functions.TextSimilarity.jaroWinkler
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
      val aliases = erAliases.toDF("alias")
      val blocked = aliases.join(broadcast(names),
        substring(col("alias"), 1, 1) === substring(col("p_name"), 1, 1) &&
          abs(length(col("alias")) - length(col("p_name"))) <= 2,
        "left")
      val scored = blocked
        .withColumn("jw_u",
          floor(jaroWinkler(col("alias"), col("p_name")) * lit(1e8)).cast("long"))
        .withColumn("cand", when(col("p_name").isNotNull, 1L).otherwise(0L))
        .withColumn("hit", when(col("jw_u") >= (JwThreshold * 1e8).toLong, 1L)
          .otherwise(0L))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("alias")
        .orderBy(col("hit").desc, col("jw_u").desc, col("p_name").asc)
      scored.withColumn("rn", row_number().over(w))
        .groupBy("alias")
        .agg(
          max(when(col("rn") === 1 && col("hit") === 1, col("p_name")))
            .as("matched_name"),
          max(when(col("rn") === 1 && col("hit") === 1,
            col("jw_u").cast("double") / lit(1e8))).as("jw"),
          sum("cand").cast("long").as("n_candidates"),
          sum("hit").cast("long").as("n_accepted"))
        .orderBy("alias")
    },
    Some {
      val vals = erAliases.map(a => s"('$a')").mkString(", ")
      s"""
      WITH names AS (SELECT DISTINCT p_name FROM part),
        al AS (SELECT * FROM (VALUES $vals) AS t(alias)),
        blocked AS (
          SELECT al.alias, names.p_name,
                 CAST(floor(jaro_winkler_similarity(al.alias, names.p_name)
                   * 1e8) AS BIGINT) AS jw_u
          FROM al LEFT JOIN names
            ON substr(al.alias, 1, 1) = substr(names.p_name, 1, 1)
           AND abs(length(al.alias) - length(names.p_name)) <= 2),
        flags AS (SELECT *,
                    CASE WHEN p_name IS NOT NULL THEN 1 ELSE 0 END AS cand,
                    CASE WHEN jw_u >= ${(JwThreshold * 1e8).toLong} THEN 1
                         ELSE 0 END AS hit
                  FROM blocked),
        rk AS (SELECT *, row_number() OVER (PARTITION BY alias
                 ORDER BY hit DESC, jw_u DESC, p_name ASC) AS rn
               FROM flags)
      SELECT alias,
             max(CASE WHEN rn = 1 AND hit = 1 THEN p_name END) AS matched_name,
             max(CASE WHEN rn = 1 AND hit = 1
                 THEN CAST(jw_u AS DOUBLE) / 1e8 END) AS jw,
             CAST(sum(cand) AS BIGINT) AS n_candidates,
             CAST(sum(hit) AS BIGINT) AS n_accepted
      FROM rk GROUP BY alias ORDER BY alias"""
    })

  // -- Exact-substring duplicated-SPAN removal (the trimming pass of Lee
  //    et al. 2022 "Deduplicating Training Data Makes Language Models
  //    Better" §4.1, ExactSubstr): any 8-token window whose content occurs
  //    ≥2 times corpus-wide marks its token interval [i, i+7] as
  //    duplicated; per doc the marked intervals MERGE (interval union) and
  //    the union is the removable mass. Distinct from q_passage_dedup
  //    (stride-4 window census) and q_cross_dup_mass (per-doc shared-gram
  //    ratio): this computes what an ExactSubstr trimmer would actually
  //    CUT — merged spans, their count, and the widest one.
  //
  //    Scale shape, all linear: (1) compute-per-distinct-content —
  //    identical replicas share every window, so windows are built once
  //    per distinct text and replica multiplicity m rides as a weight
  //    (an m≥2 text is 100% covered by construction, which the math
  //    reproduces for free: all its windows occur ≥m times); (2) window
  //    occurrence counts are one hash agg keyed by window content (at
  //    100 TB the key graduates to xxhash64(window) — string here keeps
  //    the DuckDB twin 1:1); (3) the interval union is a gaps-and-islands
  //    sweep with a running max-end, windowed BY DOC — never a global
  //    window. No pairwise step anywhere.
  private val SpanW = 8
  private val dupSpanRemoval = QueryDef(
    "q_dup_span_removal",
    (s, dir) => {
      val keyed = Tables.documents(s, dir)
        .groupBy(sha2(col("text"), 256).as("ckey"), col("lang"))
        .agg(min("text").as("text"), count(lit(1)).as("m"))
        .withColumn("toks", split(col("text"), " "))
        .withColumn("ntok", size(col("toks")).cast("long"))
        .select("ckey", "lang", "m", "toks", "ntok")
      Cached.withPinned(keyed) { case Seq(keyed) => // r15: pin + plan-truncate
        // stride-1 8-token windows with their start position. The doc key
        // is (ckey, lang), NOT ckey alone: the same text CAN appear under
        // two languages, and a ckey-only key would emit duplicate
        // (doc, position) rows — ties that two independent window sorts
        // may order differently (measured at sf1: DuckDB's brk pass and
        // iid pass disagreed on the tie order and split phantom islands).
        // Unique keys make the sweep order total; no tie can exist.
        val w = keyed.filter(col("ntok") >= SpanW)
          .select(col("ckey"), col("lang"), col("m"), posexplode(expr(
            s"""transform(sequence(0, int(ntok) - $SpanW),
                          i -> concat_ws(' ', slice(toks, i + 1, $SpanW)))"""))
            .as(Seq("s", "w")))
        // corpus-wide occurrence count (per-position, replica-weighted)
        val occ = w.groupBy("w").agg(sum("m").as("occ"))
          .filter(col("occ") >= 2).select("w")
        val dupPos = w.join(occ, Seq("w"), "left_semi")
          .withColumn("e", col("s") + lit(SpanW - 1))
        // interval union per doc: a window starts a new merged span when
        // its start clears the running max end of everything before it
        import org.apache.spark.sql.expressions.Window
        val byDoc = Window.partitionBy("ckey", "lang").orderBy("s")
        val prevMax = max("e").over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
        val spans = dupPos
          .withColumn("brk",
            when(prevMax.isNull || col("s") > prevMax + 1, 1L).otherwise(0L))
          .withColumn("iid", sum("brk").over(
            byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("ckey", "lang", "iid")
          .agg(min("s").as("s0"), max("e").as("e1"))
          .withColumn("len", col("e1") - col("s0") + 1L)
        val perDoc = spans.groupBy("ckey", "lang")
          .agg(sum("len").as("covered"), count(lit(1)).as("n_spans"),
            max("len").as("max_span"))
        keyed.join(perDoc, Seq("ckey", "lang"), "left_outer")
          .na.fill(0L, Seq("covered", "n_spans", "max_span"))
          .groupBy("lang")
          .agg(sum("m").as("n_docs"),
            sum(col("ntok") * col("m")).as("total_tokens"),
            sum(col("covered") * col("m")).as("covered_tokens"),
            sum(col("n_spans") * col("m")).as("n_spans"),
            max("max_span").as("max_span"),
            dround(sum(col("covered") * col("m")).cast("double")
              / sum(col("ntok") * col("m")).cast("double"), 4)
              .as("removal_rate"))
          .orderBy("lang")
      }
    },
    Some(s"""
      WITH keyed AS MATERIALIZED (
             SELECT sha256(text) AS ckey, lang, min(text) AS text,
                    count(*) AS m
             FROM documents GROUP BY 1, 2),
        t AS MATERIALIZED (
             SELECT ckey, lang, m, string_split(text, ' ') AS toks,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
             FROM keyed),
        pos AS (SELECT ckey, lang, m, toks,
                  unnest(generate_series(1, CAST(ntok AS INT) - ${SpanW - 1}))
                    AS i
                FROM t WHERE ntok >= $SpanW),
        w AS MATERIALIZED (
             SELECT ckey, lang, m, i - 1 AS s,
                    array_to_string(toks[i:i+${SpanW - 1}], ' ') AS w
             FROM pos),
        dup AS (SELECT w FROM w GROUP BY w HAVING sum(m) >= 2),
        dp AS (SELECT ckey, lang, s, s + ${SpanW - 1} AS e
               FROM w WHERE w IN (SELECT w FROM dup)),
        isl AS (SELECT ckey, lang, s, e,
                  CASE WHEN max(e) OVER (PARTITION BY ckey, lang ORDER BY s
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                    OR s > max(e) OVER (PARTITION BY ckey, lang ORDER BY s
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS brk
                FROM dp),
        isl2 AS (SELECT ckey, lang, s, e,
                   sum(brk) OVER (PARTITION BY ckey, lang ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
                 FROM isl),
        spans AS (SELECT ckey, lang, iid, min(s) AS s0, max(e) AS e1,
                    max(e) - min(s) + 1 AS len
                  FROM isl2 GROUP BY 1, 2, 3),
        perdoc AS MATERIALIZED (
               SELECT ckey, lang, CAST(sum(len) AS BIGINT) AS covered,
                      count(*) AS n_spans, CAST(max(len) AS BIGINT) AS max_span
               FROM spans GROUP BY 1, 2)
      SELECT t.lang, CAST(sum(m) AS BIGINT) AS n_docs,
             CAST(sum(ntok * m) AS BIGINT) AS total_tokens,
             CAST(sum(coalesce(covered, 0) * m) AS BIGINT) AS covered_tokens,
             CAST(sum(coalesce(n_spans, 0) * m) AS BIGINT) AS n_spans,
             CAST(max(coalesce(max_span, 0)) AS BIGINT) AS max_span,
             ${oround(
               "CAST(sum(coalesce(covered, 0) * m) AS DOUBLE)" +
                 " / sum(ntok * m)", 4)} AS removal_rate
      FROM t LEFT JOIN perdoc
        ON t.ckey = perdoc.ckey AND t.lang = perdoc.lang
      GROUP BY t.lang ORDER BY t.lang"""))

  // -- directional CONTAINMENT dedup (Broder 1997 distinguishes
  //    resemblance |A∩B|/|A∪B| from containment |A∩B|/|A|): the MinHash
  //    family above approximates resemblance, which goes BLIND when a
  //    short doc is wholly quoted inside a long one (union is large, so
  //    Jaccard is small but containment ≈ 1) — the quote-inclusion /
  //    subset-duplication class a curation pipeline must catch
  //    separately. Candidates block on the first-2-token key (the
  //    q_fuzzy_neardup_join discipline: pairs form only inside an
  //    equi-join block, never all-pairs); each surviving pair computes
  //    exact distinct-3-gram intersection via a codegen'd
  //    array_intersect — both directions reported, flagged at ≥ 0.8.
  //    At 100 TB the block key graduates to (prefix key, length band)
  //    and skew splits via AQE; the shape stays an equi-join.
  private val containmentDedup = QueryDef(
    "q_containment_dedup",
    (s, dir) => {
      val c = collapseExactDups(Tables.documents(s, dir))
      val d = c.select(col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("blk"),
        expr("""array_distinct(CASE WHEN size(split(text, ' ')) >= 3
                  THEN transform(sequence(0, size(split(text, ' ')) - 3),
                    i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3)))
                  ELSE array() END)""").as("g"))
        .filter(size(col("g")) > 0)
      // d feeds BOTH sides of the block join: pin it so the exact-dup
      // collapse + 3-gram derivation (split/transform/distinct over every
      // text) runs once, not once per side (round-10: 7.2 -> ~4 s sf0.1)
      Cached.withPinned(d) { case Seq(d) => // r15: pin + plan-truncate
      val a = d.select(col("blk"), col("doc_id").as("doc_a"),
        col("g").as("g_a"))
      val b = d.select(col("blk"), col("doc_id").as("doc_b"),
        col("g").as("g_b"))
      a.join(b, Seq("blk"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("inter", size(array_intersect(col("g_a"), col("g_b"))))
        .withColumn("cont_ab",
          col("inter").cast("double") / size(col("g_a")))
        .withColumn("cont_ba",
          col("inter").cast("double") / size(col("g_b")))
        // top candidates, not a fixed threshold: the synthetic corpus has
        // no genuine subset-duplicates, so a 0.8 gate would certify an
        // empty set — rank instead (exact longs + one division, total
        // order with id tie-breaks) and emit the gate as a flag
        .orderBy(greatest(col("cont_ab"), col("cont_ba")).desc,
          col("inter").desc, col("doc_a").asc, col("doc_b").asc)
        .limit(10)
        .select(col("doc_a"), col("doc_b"), col("inter").cast("long").as("inter"),
          dround(col("cont_ab"), 4).as("cont_ab"),
          dround(col("cont_ba"), 4).as("cont_ba"),
          (greatest(col("cont_ab"), col("cont_ba")) >= 0.8)
            .cast("int").as("contained"))
      }
    },
    Some(s"""
      WITH c AS (SELECT min(doc_id) AS doc_id, min(text) AS text
                 FROM documents GROUP BY sha256(text)),
        d AS MATERIALIZED (
              SELECT doc_id,
                array_to_string((string_split(text, ' '))[1:2], ' ') AS blk,
                list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
                  THEN list_transform(
                         generate_series(1, len(string_split(text, ' ')) - 2),
                         i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
                  ELSE [] END) AS g
              FROM c),
        dd AS (SELECT * FROM d WHERE len(g) > 0),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                len(list_intersect(a.g, b.g)) AS inter,
                len(a.g) AS na, len(b.g) AS nb
              FROM dd a JOIN dd b ON a.blk = b.blk AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
             ${oround("CAST(inter AS DOUBLE) / na", 4)} AS cont_ab,
             ${oround("CAST(inter AS DOUBLE) / nb", 4)} AS cont_ba,
             CAST(greatest(CAST(inter AS DOUBLE) / na,
                           CAST(inter AS DOUBLE) / nb) >= 0.8 AS INTEGER)
               AS contained
      FROM p
      ORDER BY greatest(CAST(inter AS DOUBLE) / na,
                        CAST(inter AS DOUBLE) / nb) DESC,
               inter DESC, doc_a ASC, doc_b ASC
      LIMIT 10"""))

  // -- Temporal n-gram NOVELTY: for each document (in doc_id ingest
  //    order), the fraction of its distinct trigrams never seen in any
  //    EARLIER document — the "is this batch adding new content or
  //    re-treading the corpus" curation signal (cf. the duplicated-mass
  //    view in q_cross_dup_mass, which is order-free). First-occurrence
  //    is one min(doc_id) per gram — linear, no pairwise anything — and a
  //    gram is novel for exactly the doc holding its minimum. Report:
  //    per-source mean novelty over the second half of the ingest order
  //    (the first half mostly defines the vocabulary).
  private val ngramNovelty = QueryDef(
    "q_ngram_novelty",
    (s, dir) => {
      val dg = Tables.documents(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), col("source"), explode(expr(
          """array_distinct(transform(sequence(0, size(toks) - 3),
                            i -> concat_ws(' ', slice(toks, i + 1, 3))))"""))
          .as("gram"))
      Cached.withPinned(dg) { case Seq(dg) => // r15: pin + plan-truncate
        val firstSeen = dg.groupBy("gram").agg(min("doc_id").as("first_doc"))
        val mid = dg.agg(expr("(min(doc_id) + max(doc_id) + 1) div 2")
          .as("mid"))
        val perDoc = dg.join(firstSeen, "gram")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("tot"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("novel"))
        perDoc.crossJoin(broadcast(mid))
          .filter(col("doc_id") >= col("mid"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("novel").as("novel_grams"), sum("tot").as("total_grams"))
          .withColumn("novelty",
            dround(col("novel_grams").cast("double") / col("total_grams"), 6))
          .orderBy("source")
      }
    },
    Some(s"""
      WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
                 FROM documents
                 WHERE len(string_split(text, ' ')) >= 3),
        dg AS (SELECT DISTINCT doc_id, source,
                 array_to_string(toks[i:i+2], ' ') AS gram
               FROM (SELECT doc_id, source, toks,
                       unnest(generate_series(1, len(toks) - 2)) AS i
                     FROM d)),
        fs AS (SELECT gram, CAST(min(doc_id) AS BIGINT) AS first_doc
               FROM dg GROUP BY gram),
        mid AS (SELECT (min(doc_id) + max(doc_id) + 1) // 2 AS mid FROM dg),
        perdoc AS (SELECT dg.doc_id, dg.source,
                     CAST(count(*) AS BIGINT) AS tot,
                     CAST(sum(CASE WHEN fs.first_doc = dg.doc_id
                       THEN 1 ELSE 0 END) AS BIGINT) AS novel
                   FROM dg JOIN fs ON dg.gram = fs.gram
                   GROUP BY 1, 2)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(novel) AS BIGINT) AS novel_grams,
             CAST(sum(tot) AS BIGINT) AS total_grams,
             ${oround(
               "CAST(sum(novel) AS DOUBLE) / CAST(sum(tot) AS BIGINT)", 6)}
               AS novelty
      FROM perdoc, mid WHERE doc_id >= mid.mid
      GROUP BY source ORDER BY source"""))

  // -- MinHash-LSH recall/precision evaluation against exact ground
  //    truth on a FIXED-SIZE eval sample (distinct contents with
  //    doc_id < 200): the dedup-quality harness every production near-dup
  //    pipeline keeps. Truth = all within-sample pairs with exact shingle
  //    Jaccard ≥ 0.2 (the all-pairs join is bounded by the sample size,
  //    never the corpus — the standard labeled-eval-set shape); LSH
  //    candidates come from the same 4-band signatures as
  //    q_minhash_lsh_neardup. Reported: truth size, candidate count in
  //    the sample, recall and precision of the banding.
  private val minhashRecall = QueryDef(
    "q_minhash_recall",
    (s, dir) => {
      val d = shingled(collapseExactDups(Tables.documents(s, dir)))
        .filter(col("doc_id") < 200 && size(col("shingles")) > 0)
        .select(col("doc_id"), col("shingles"))
      Cached.withPinned(d) { case Seq(d) => // r15: pin + plan-truncate
        val truth = d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
          .withColumn("jaccard",
            size(array_intersect(col("a.shingles"), col("b.shingles")))
              .cast("double")
              / size(array_union(col("a.shingles"), col("b.shingles"))))
          .filter(col("jaccard") >= 0.2)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        val sh = d.select(col("doc_id"), explode(col("shingles")).as("shingle"))
          .withColumn("h", sha2(col("shingle"), 256))
        val sigCols = (0 until 4).map(b =>
          min(substring(col("h"), 1 + 16 * b, 16)).as(s"mh$b"))
        val sigs = sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
        val bands = sigs.select(col("doc_id"),
          posexplode(array((0 until 4).map(b => col(s"mh$b")): _*))
            .as(Seq("band", "mh")))
        val cand = bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.mh") === col("b.mh") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        val hit = truth.join(cand, Seq("id_a", "id_b"))
        truth.agg(count(lit(1)).as("n_truth"))
          .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
          .crossJoin(hit.agg(count(lit(1)).as("n_hits")))
          // nullif guards: a scale regime whose sample holds no true
          // near-dup pairs (the key-shifted sf1 corpus) reports NULL, not
          // a crash or a fake 0 — the counts still certify the machinery
          .select(col("n_truth"), col("n_candidates"), col("n_hits"),
            dround(expr("CAST(n_hits AS DOUBLE) / nullif(n_truth, 0)"), 4)
              .as("recall"),
            dround(expr("CAST(n_hits AS DOUBLE) / nullif(n_candidates, 0)"), 4)
              .as("precision"))
      }
    },
    Some(s"""
      WITH d0 AS (SELECT min(doc_id) AS doc_id, min(text) AS text
                  FROM documents GROUP BY sha256(text)),
        d AS (SELECT doc_id, $oracleShingles AS shingles
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM d0)
              WHERE doc_id < 200
                AND len($oracleShingles) > 0),
        truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM d a JOIN d b ON a.doc_id < b.doc_id
                  WHERE CAST(len(list_filter(a.shingles,
                          x -> list_contains(b.shingles, x))) AS DOUBLE)
                        / (len(a.shingles) + len(b.shingles)
                           - len(list_filter(a.shingles,
                               x -> list_contains(b.shingles, x)))) >= 0.2),
        sh AS (SELECT doc_id, sha256(unnest(shingles)) AS h FROM d),
        bands AS (SELECT doc_id, band,
                    min(substr(h, 1 + 16 * band, 16)) AS mh
                  FROM (SELECT doc_id, h, unnest([0, 1, 2, 3]) AS band
                        FROM sh)
                  GROUP BY doc_id, band),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.mh = b.mh
                  AND a.doc_id < b.doc_id),
        hit AS (SELECT truth.id_a FROM truth
                JOIN cand ON truth.id_a = cand.id_a
                         AND truth.id_b = cand.id_b),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
        c AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
        h2 AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM hit)
      SELECT n_truth, n_candidates, n_hits,
             ${oround("CAST(n_hits AS DOUBLE) / nullif(n_truth, 0)", 4)}
               AS recall,
             ${oround("CAST(n_hits AS DOUBLE) / nullif(n_candidates, 0)", 4)}
               AS precision
      FROM t, c, h2"""))

  // -- Incremental LSH-index maintenance: the MinHash band index as
  //    MERGEABLE state over disjoint ingest batches (the near-dup sibling
  //    of q_incremental_postings). State per batch = (content-key set,
  //    band rows (band, mh, doc_id)) over that batch's DISTINCT contents;
  //    a refresh shingles/hashes ONLY the new batch and (a) drops new
  //    docs whose content key is already indexed (they'd collapse to the
  //    old representative anyway — the exact-dup gate composes with the
  //    index fold), (b) unions the new band rows in. Because every old
  //    doc_id precedes every new one, the folded index is row-identical
  //    to a from-scratch index over the full corpus — which is exactly
  //    what the oracle computes (DIRECT build over all documents), so the
  //    hash gate proves fold ≡ rebuild. At 100 TB this is the difference
  //    between re-shingling the corpus nightly and appending O(batch)
  //    rows to a band-bucketed store.
  private val incrementalLsh = QueryDef(
    "q_incremental_lsh",
    (s, dir) => {
      val all = Tables.documents(s, dir)
      // Split threshold derived FROM THE DATA (round-7 ADVICE: a
      // hard-coded 350 made one batch empty at other scale factors,
      // turning the fold≡rebuild property vacuous): old batch = ids
      // below min + 70% of the id span + 1, which is strictly above min
      // and at most max — both batches non-empty whenever ≥2 distinct
      // ids exist. A 1-row broadcast attach, not a driver-side action.
      val thr = broadcast(all.agg(
        expr("min(doc_id) + ((max(doc_id) - min(doc_id)) * 7) div 10 + 1")
          .cast("long").as("thr")))
      val oldC = collapseExactDups(
        all.crossJoin(thr).filter(col("doc_id") < col("thr")).drop("thr"))
      val newC = collapseExactDups(
        all.crossJoin(thr).filter(col("doc_id") >= col("thr")).drop("thr"))
        .join(oldC.select("ckey"), Seq("ckey"), "left_anti")
      def bandRows(reps: org.apache.spark.sql.DataFrame) = {
        val sh = shingled(reps)
          .select(col("doc_id"), explode(col("shingles")).as("shingle"))
          .withColumn("h", sha2(col("shingle"), 256))
        val sigCols = (0 until 4).map(b =>
          min(substring(col("h"), 1 + 16 * b, 16)).as(s"mh$b"))
        sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
          .select(col("doc_id"),
            posexplode(array((0 until 4).map(b => col(s"mh$b")): _*))
              .as(Seq("band", "mh")))
      }
      // the incremental fold: stored old-batch rows + new-batch-only work
      val index = bandRows(oldC).unionByName(bandRows(newC))
      Cached.withPinned(index) { case Seq(index) => // r15: pin + plan-truncate
        val buckets = index.groupBy("band", "mh")
          .agg(count(lit(1)).as("bc"))
        val pairs = buckets
          .filter(col("bc") <= MaxBucket)
          .select(col("band"), expr("bc * (bc - 1) div 2").as("np"))
          .groupBy("band").agg(sum("np").as("n_candidate_pairs"))
        buckets.groupBy("band")
          .agg(count(lit(1)).as("n_buckets"), sum("bc").as("n_rows"),
            sum(when(col("bc") <= MaxBucket, 1L).otherwise(0L)).as("n_ok_buckets"))
          .join(pairs, Seq("band"), "left_outer")
          .withColumn("n_candidate_pairs",
            coalesce(col("n_candidate_pairs"), lit(0L)))
          .orderBy("band")
      }
    },
    Some(s"""
      WITH d0 AS (SELECT min(doc_id) AS doc_id, min(text) AS text
                  FROM documents GROUP BY sha256(text)),
        d AS (SELECT doc_id, $oracleShingles AS shingles
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM d0)),
        sh AS (SELECT doc_id, sha256(unnest(shingles)) AS h FROM d),
        bands AS (SELECT doc_id, band,
                    min(substr(h, 1 + 16 * band, 16)) AS mh
                  FROM (SELECT doc_id, h, unnest([0, 1, 2, 3]) AS band FROM sh)
                  GROUP BY doc_id, band),
        buckets AS (SELECT band, mh, CAST(count(*) AS BIGINT) AS bc
                    FROM bands GROUP BY band, mh)
      SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(bc) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN bc <= $MaxBucket THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ok_buckets,
             CAST(sum(CASE WHEN bc <= $MaxBucket
                           THEN bc * (bc - 1) // 2 ELSE 0 END) AS BIGINT)
               AS n_candidate_pairs
      FROM buckets GROUP BY band ORDER BY band"""))

  override def queries: Seq[QueryDef] = Seq(
    exactDedup, minhashLsh, minhashBandedR2, simhash, neardupClusters,
    clusterCanonical, ngramJaccard, embeddingNearDup, contamination,
    passageDedup, fuzzyNeardupJoin, bloomDedupGate, crossDupMass,
    entityResolutionJw, dupSpanRemoval, containmentDedup, ngramNovelty,
    minhashRecall, incrementalLsh)
}
