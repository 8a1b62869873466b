package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 category K (round 8, tranche 3) — corpus-composition ops:
  * deterministic mixture sampling across sources and a Gopher-style
  * bundled quality-rule audit. Both are pure per-row work feeding one
  * distributed groupBy — the shapes that stay scan-bound at 100 TB.
  */
object LlmOps3 {
  import Tables._

  val all: Seq[Spec] = Seq(
    // Data-mixture sampling: per-language target rates applied with
    // content-hash acceptance (the md5-prefix uniform from sample_hash /
    // sample_split). Rates are expressed as a 2-hex-digit threshold over
    // the first md5 byte — en keeps everything, de/fr half, es a
    // quarter, zh an eighth — so acceptance is a lexicographic string
    // compare (fixed-width lowercase hex orders numerically) and the
    // SAME docs are chosen on every engine, run, and partitioning; the
    // mixture is re-weighable by changing thresholds WITHOUT re-shuffling
    // anything. Reports achieved per-language counts vs the target rate
    // in 1/256ths — the sanity readout before launching a training run.
    Spec("sample_mixture",
      (s, d) => {
        val thr = when(col("lang") === "en", lit("zz"))
          .when(col("lang").isin("de", "fr"), lit("80"))
          .when(col("lang") === "es", lit("40"))
          .otherwise(lit("20"))
        t(s, d, "documents")
          .withColumn("keep", substring(md5(col("text")), 1, 2) < thr)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("keep"), 1)).as("n_sampled"),
            sum(when(col("keep"), col("n_chars"))).cast("long").as("sampled_chars"))
          .withColumn("target_x256",
            when(col("lang") === "en", lit(256L))
              .when(col("lang").isin("de", "fr"), lit(128L))
              .when(col("lang") === "es", lit(64L))
              .otherwise(lit(32L)))
          .orderBy("lang")
      },
      Some("""SELECT lang, n_docs, n_sampled, sampled_chars,
                CASE WHEN lang = 'en' THEN 256
                     WHEN lang IN ('de', 'fr') THEN 128
                     WHEN lang = 'es' THEN 64 ELSE 32 END AS target_x256
              FROM (
                SELECT lang, count(*) AS n_docs,
                  count(CASE WHEN substring(md5(text), 1, 2) <
                    (CASE WHEN lang = 'en' THEN 'zz'
                          WHEN lang IN ('de', 'fr') THEN '80'
                          WHEN lang = 'es' THEN '40' ELSE '20' END)
                    THEN 1 END) AS n_sampled,
                  CAST(sum(CASE WHEN substring(md5(text), 1, 2) <
                    (CASE WHEN lang = 'en' THEN 'zz'
                          WHEN lang IN ('de', 'fr') THEN '80'
                          WHEN lang = 'es' THEN '40' ELSE '20' END)
                    THEN n_chars END) AS BIGINT) AS sampled_chars
                FROM documents GROUP BY lang)
              ORDER BY lang""")),

    // Gopher-style quality-rule bundle (Rae et al. 2021 §A1.1, bounds
    // tuned to the 10-99-token fixture docs so each rule both passes and
    // fails real rows): per-language violation counts for four
    // independent rules and the all-rules pass rate.
    //   r_len : token count within [30, 80]
    //   r_mwl : mean word length within [4.3, 4.7]  (10·Σchars vs 43·n /
    //           47·n — integer cross-multiplication, no float division)
    //   r_stop: ≥ 2 distinct common-word hits (the/and/of/to/a/in)
    //   r_rep : duplicate-token fraction ≤ 50%  (2·(n−distinct) ≤ n)
    // Every comparison is exact integer arithmetic; one groupBy(lang)
    // after per-row flag computation — scan-bound, shuffle only on the
    // 5-row lang grain. The pass rate is floor-scaled to basis points
    // (integer division — no rounding tie).
    Spec("text_gopher_rules",
      (s, d) => {
        val stops = array(Seq("the", "and", "of", "to", "a", "in").map(lit): _*)
        val base = t(s, d, "documents")
          .withColumn("arr", split(col("text"), " "))
          .withColumn("n", size(col("arr")).cast("long"))
          .withColumn("nd", size(array_distinct(col("arr"))).cast("long"))
          .withColumn("cs",
            aggregate(col("arr"), lit(0L), (a, x) => a + length(x)))
          .withColumn("nstop",
            size(array_distinct(array_intersect(col("arr"), stops))).cast("long"))
          .withColumn("ok_len", col("n") >= 30 && col("n") <= 80)
          .withColumn("ok_mwl",
            lit(10L) * col("cs") >= lit(43L) * col("n") &&
              lit(10L) * col("cs") <= lit(47L) * col("n"))
          .withColumn("ok_stop", col("nstop") >= 2)
          .withColumn("ok_rep", lit(2L) * (col("n") - col("nd")) <= col("n"))
        base.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            count(when(!col("ok_len"), 1)).as("fail_len"),
            count(when(!col("ok_mwl"), 1)).as("fail_mwl"),
            count(when(!col("ok_stop"), 1)).as("fail_stop"),
            count(when(!col("ok_rep"), 1)).as("fail_rep"),
            count(when(col("ok_len") && col("ok_mwl") &&
              col("ok_stop") && col("ok_rep"), 1)).as("n_pass"))
          .withColumn("pass_bp",
            expr("(10000 * n_pass) div n_docs"))
          .orderBy("lang")
      },
      Some("""WITH f AS (
                SELECT lang,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
                  list_reduce(list_transform(string_split(text, ' '),
                    x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b) AS cs,
                  CAST(len(list_distinct(list_filter(string_split(text, ' '),
                    x -> x IN ('the', 'and', 'of', 'to', 'a', 'in')))) AS BIGINT) AS nstop
                FROM documents),
              r AS (
                SELECT lang,
                  (n >= 30 AND n <= 80) AS ok_len,
                  (10 * cs >= 43 * n AND 10 * cs <= 47 * n) AS ok_mwl,
                  (nstop >= 2) AS ok_stop,
                  (2 * (n - nd) <= n) AS ok_rep
                FROM f)
              SELECT lang, n_docs, fail_len, fail_mwl, fail_stop, fail_rep,
                n_pass, (10000 * n_pass) // n_docs AS pass_bp
              FROM (
                SELECT lang, count(*) AS n_docs,
                  count(CASE WHEN NOT ok_len THEN 1 END) AS fail_len,
                  count(CASE WHEN NOT ok_mwl THEN 1 END) AS fail_mwl,
                  count(CASE WHEN NOT ok_stop THEN 1 END) AS fail_stop,
                  count(CASE WHEN NOT ok_rep THEN 1 END) AS fail_rep,
                  count(CASE WHEN ok_len AND ok_mwl AND ok_stop AND ok_rep
                    THEN 1 END) AS n_pass
                FROM r GROUP BY lang)
              ORDER BY lang""")),

    // Per-source exact-duplicate pressure: the triage readout run BEFORE
    // any expensive near-dup pass — which ingest sources are flooding the
    // corpus with identical texts. n − count(DISTINCT text) at the source
    // grain, dup share floor-scaled to basis points. One partial-agg
    // shuffle on (source, text-hash) semantics; at 100 TB the distinct
    // runs on the md5 of the text, which is what `count(DISTINCT text)`
    // hash-aggregates anyway.
    Spec("dedup_source_ratio",
      (s, d) => t(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_distinct"))
        .withColumn("dup_bp",
          expr("(10000 * (n_docs - n_distinct)) div n_docs"))
        .orderBy("source"),
      Some("""SELECT source, count(*) AS n_docs,
                count(DISTINCT text) AS n_distinct,
                (10000 * (count(*) - count(DISTINCT text))) // count(*) AS dup_bp
              FROM documents GROUP BY source
              ORDER BY source""")),

    // Cross-language vocabulary overlap — Jaccard of the distinct token
    // sets per language pair (code-switching / mislabeled-language
    // contamination signal: two "languages" sharing most of their
    // vocabulary are one language, or one is polluted). The distinct
    // (lang, token) relation self-joins on token with a canonical
    // lang < lang pair filter; union size by inclusion-exclusion from
    // exact per-lang counts — no second pass. ≤ C(5,2) output rows.
    Spec("text_lang_overlap",
      (s, d) => {
        // array_distinct pre-dedups per DOC before the explode (free,
        // per-row) so the cross-doc distinct's shuffle carries each
        // doc's vocabulary once, not its token stream (round 12)
        val lt = t(s, d, "documents")
          .select(col("lang"),
            explode(array_distinct(split(col("text"), " "))).as("token"))
          .distinct()
        val sizes = lt.groupBy("lang").agg(count(lit(1)).as("nv"))
        val inter = lt.as("a").join(lt.as("b"),
            col("a.token") === col("b.token") && col("a.lang") < col("b.lang"))
          .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(broadcast(sizes.select(col("lang").as("lang_a"), col("nv").as("na"))), "lang_a")
          .join(broadcast(sizes.select(col("lang").as("lang_b"), col("nv").as("nb"))), "lang_b")
          .select(col("lang_a"), col("lang_b"), col("inter"), col("na"), col("nb"),
            expr("(10000 * inter) div (na + nb - inter)").as("jaccard_bp"))
          .orderBy("lang_a", "lang_b")
      },
      Some("""WITH lt AS (
                SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS token
                FROM documents),
              sizes AS (SELECT lang, count(*) AS nv FROM lt GROUP BY lang),
              i AS (
                SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS inter
                FROM lt a JOIN lt b
                  ON a.token = b.token AND a.lang < b.lang
                GROUP BY 1, 2)
              SELECT lang_a, lang_b, inter, sa.nv AS na, sb.nv AS nb,
                (10000 * inter) // (sa.nv + sb.nv - inter) AS jaccard_bp
              FROM i JOIN sizes sa ON i.lang_a = sa.lang
                     JOIN sizes sb ON i.lang_b = sb.lang
              ORDER BY lang_a, lang_b""")),

    // Token co-occurrence LIFT over the top-20 vocabulary — collocation
    // mining without PMI's logarithm (lift = N·c_ab/(c_a·c_b), floor-
    // scaled to basis points: >10000 ⇒ attract, <10000 ⇒ repel; the
    // PMI RANKING is identical because log is monotone, with none of
    // libm's cross-engine risk). The pair join runs only on the top-20
    // token postings (vocabulary-bounded, never corpus-quadratic); the
    // 1-row doc-count broadcast is the text_tfidf_topk decorrelation.
    Spec("text_token_lift",
      (s, d) => {
        // per-doc token dedup is (doc_id, token)-distinct BY DEFINITION,
        // so array_distinct before the explode replaces a full-stream
        // distinct SHUFFLE with per-row work (round 12; dt is consumed
        // twice — dfreq and the join probe — so the saving doubles)
        val dt = t(s, d, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("token"))
        val dfreq = dt.groupBy("token").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), asc("token")).limit(20)
        val top = dt.join(broadcast(dfreq), "token")
        val ndocs = t(s, d, "documents").agg(count(lit(1)).as("nd"))
        top.as("a").join(top.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.token") < col("b.token"))
          .groupBy(col("a.token").as("tok_a"), col("b.token").as("tok_b"),
            col("a.c").as("c_a"), col("b.c").as("c_b"))
          .agg(count(lit(1)).as("c_ab"))
          .crossJoin(broadcast(ndocs))
          .select(col("tok_a"), col("tok_b"), col("c_ab"), col("c_a"), col("c_b"),
            expr("(10000 * nd * c_ab) div (c_a * c_b)").as("lift_bp"))
          .orderBy(desc("lift_bp"), asc("tok_a"), asc("tok_b"))
          .limit(30)
      },
      Some("""WITH dt AS (
                SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents),
              dfreq AS (
                SELECT token, count(*) AS c FROM dt GROUP BY token
                ORDER BY c DESC, token LIMIT 20),
              top AS (
                SELECT dt.doc_id, dt.token, dfreq.c
                FROM dt JOIN dfreq ON dt.token = dfreq.token),
              nd AS (SELECT count(*) AS nd FROM documents),
              p AS (
                SELECT a.token AS tok_a, b.token AS tok_b,
                  a.c AS c_a, b.c AS c_b, count(*) AS c_ab
                FROM top a JOIN top b
                  ON a.doc_id = b.doc_id AND a.token < b.token
                GROUP BY 1, 2, 3, 4)
              SELECT tok_a, tok_b, c_ab, c_a, c_b,
                (10000 * nd * c_ab) // (c_a * c_b) AS lift_bp
              FROM p, nd
              ORDER BY lift_bp DESC, tok_a, tok_b
              LIMIT 30""")),

    // Token burstiness (variance-to-mean ratio of within-document counts
    // over the documents containing the token) for the top-20 vocabulary
    // — Church & Gale's content-vs-function-word discriminator: function
    // words spread evenly (VMR ≈ 1, Poisson), content words clump. The
    // identity VMR = (n·Σc² − (Σc)²) / ((n−1)·Σc) makes it ONE division
    // of two exact BIGINTs — no intermediate float mean/variance at all.
    Spec("text_burstiness",
      (s, d) => {
        val tc = t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
        val top = tc.groupBy("token").agg(count(lit(1)).as("df"))
          .orderBy(desc("df"), asc("token")).limit(20)
        tc.join(broadcast(top), "token")
          .groupBy("token", "df")
          .agg(sum("c").as("s1"), sum(col("c") * col("c")).as("s2"))
          .select(col("token"), col("df"), col("s1").as("total_occ"),
            // nullif-guard: a df=1 token would zero the denominator, and
            // NULL-vs-inf division semantics diverge across engines
            // (win_rolling_corr precedent; r8 advice) — only fixture
            // density prevented it before
            round((col("df") * col("s2") - col("s1") * col("s1")).cast("double") /
              expr("nullif(cast((df - 1) * s1 as double), 0.0)"), 6).as("vmr"))
          .orderBy("token")
      },
      Some("""WITH tc AS (
                SELECT token, doc_id, count(*) AS c FROM (
                  SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents)
                GROUP BY token, doc_id),
              top AS (
                SELECT token, count(*) AS df FROM tc GROUP BY token
                ORDER BY df DESC, token LIMIT 20),
              s AS (
                SELECT tc.token, top.df,
                  CAST(sum(c) AS BIGINT) AS s1,
                  CAST(sum(c * c) AS BIGINT) AS s2
                FROM tc JOIN top ON tc.token = top.token
                GROUP BY tc.token, top.df)
              SELECT token, df, s1 AS total_occ,
                round(CAST(df * s2 - s1 * s1 AS DOUBLE)
                  / nullif(CAST((df - 1) * s1 AS DOUBLE), 0.0), 6) AS vmr
              FROM s ORDER BY token""")),

    // Heaps'-law vocabulary-growth curve: distinct-vocabulary size after
    // the first N documents, at doc-count checkpoints — the corpus-
    // health companion to the Zipf fit (a vocabulary that stops growing
    // means duplicated/templated ingest). The prefix distinct-count is
    // the FIRST-OCCURRENCE trick (token → min doc_id, one shuffle), so
    // every checkpoint is a conditional sum over that compressed
    // relation — never a per-checkpoint rescan. Checkpoints are deciles
    // of the LAST VOCABULARY-INTRODUCING doc_id (max first_doc — trailing
    // docs that add no new tokens shift no checkpoint), so the query is
    // scale-invariant; exact integers end to end. The corpus max is a
    // 1-row aggregate broadcast back over the vocab relation (the
    // standard scalar decorrelation) — not a window over the unbounded
    // vocab grain.
    Spec("text_heaps_law",
      (s, d) => {
        val firsts = t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .groupBy("token").agg(min("doc_id").as("first_doc"))
        val mx = firsts.agg(max("first_doc").as("mx"))
        firsts.crossJoin(broadcast(mx))
          .select(explode(expr("sequence(1, 10)")).as("decile"),
            col("first_doc"), col("mx"))
          .where(col("first_doc") * 10 <= col("decile") * col("mx"))
          .groupBy("decile").agg(count(lit(1)).as("vocab"))
          .orderBy("decile")
      },
      Some("""WITH firsts AS (
                SELECT token, min(doc_id) AS first_doc FROM (
                  SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents)
                GROUP BY token),
              m AS (
                SELECT token, first_doc,
                  max(first_doc) OVER () AS mx
                FROM firsts),
              e AS (
                SELECT d.decile, first_doc, mx
                FROM m, (SELECT unnest(range(1, 11)) AS decile) d
                WHERE first_doc * 10 <= d.decile * mx)
              SELECT decile, count(*) AS vocab
              FROM e GROUP BY decile ORDER BY decile""")),

    // Duplicate-group size distribution over the canonical assignment —
    // the "how bad is it" readout after dedup_canonical: how many
    // groups of size 1 (unique), 2, 3… and how many docs each band
    // holds. Reuses the memoized groups + verified set pairs; two hash
    // shuffles over the doc and group grains.
    Spec("dedup_cluster_sizes",
      (s, d) => {
        // One-hop min at SET grain (round 15): the old form expanded the
        // verified set pairs to ~1M doc pairs (×2 orientations) and
        // hash-shuffled ~2M edge rows only to take min(nb) per doc. Every
        // doc in set g sees exactly (members(g) \ {self}) ∪ members(t)
        // for each verified neighbor t, and `members` is sorted, so
        // min(nb) = least(second-or-first own member, min over neighbor
        // sets' FIRST member) — computable from one 29k-row aggregate
        // over the memoized pair relation plus a per-doc explode of the
        // cached groups. Same canonical_id per doc (least() skips nulls),
        // same histogram, oracle unchanged; the quadratic doc-pair
        // stream never materializes.
        val groups = LlmOps.tokenSetGroups(s, d)
        val sp = LlmOps.minhashSetPairs(s, d)
        val contrib = sp.select(col("sa").as("set_id"), col("m0_sb").as("nm"))
          .unionByName(sp.select(col("sb").as("set_id"),
            col("m0_sa").as("nm")))
        val pmin = contrib.groupBy("set_id").agg(min("nm").as("pmin"))
        val canon = groups
          .join(pmin, Seq("set_id"), "left")
          .select(col("members"), col("pmin"),
            explode(col("members")).as("doc_id"))
          .select(col("doc_id"),
            least(col("doc_id"),
              when(col("doc_id") === element_at(col("members"), lit(1)),
                when(size(col("members")) > 1,
                  element_at(col("members"), lit(2))))
                .otherwise(element_at(col("members"), lit(1))),
              col("pmin")).as("canonical_id"))
        canon.groupBy("canonical_id").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_groups"),
            sum("sz").cast("long").as("n_docs"))
          .orderBy("sz")
      },
      Some(s"""WITH ${LlmOps.pairCte("")},
               p AS (SELECT d1, d2 FROM j WHERE jaccard >= 0.9),
               edges AS (SELECT d1 AS doc_id, d2 AS nb FROM p
                         UNION ALL SELECT d2, d1 FROM p),
               canon AS (
                 SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(e.nb), d.doc_id)) AS canonical_id
                 FROM documents d LEFT JOIN edges e ON d.doc_id = e.doc_id
                 GROUP BY d.doc_id),
               sz AS (
                 SELECT canonical_id, count(*) AS sz
                 FROM canon GROUP BY canonical_id)
               SELECT sz, count(*) AS n_groups,
                 CAST(sum(sz) AS BIGINT) AS n_docs
               FROM sz GROUP BY sz ORDER BY sz""")),

    // Per-document 3-gram NOVELTY in ingest order — the fraction of a
    // doc's trigrams never seen in any earlier doc (first-occurrence
    // trick at the n-gram grain). A corpus whose novelty curve collapses
    // is re-crawling itself — the streaming-order complement to the
    // pairwise dedup family. Uses the native `ngrams` GENERATOR (the
    // Generate-node table function — zero-shuffle emission in the scan
    // pipeline); the oracle rebuilds trigrams relationally. Exact
    // integers; floor basis points.
    Spec("text_ngram_novelty",
      (s, d) => {
        graft.GraftExtensions.ensure(s)
        t(s, d, "documents").createOrReplaceTempView("documents")
        // One gram-keyed exchange instead of three-and-a-join (round 15):
        // the old shape aggregated firsts(gram → min doc) and joined the
        // RAW occurrence stream back on the gram string — the full
        // trigram text crossed a gram exchange twice (agg + join build).
        // Repartitioning the occurrences by gram ONCE lets the
        // (doc, gram) count, the per-gram min window, and the novel
        // compare all run colocated; only the final per-doc rollup
        // re-shuffles, at (doc, gram) grain. Same rows (n_novel = Σ cnt
        // where the gram's min doc is this doc), oracle unchanged.
        s.sql("""WITH tk AS (SELECT doc_id, split(text, ' ') AS toks
                             FROM documents),
                 g AS (SELECT /*+ REPARTITION(gram) */ doc_id, gram
                       FROM tk LATERAL VIEW ngrams(toks, 3) t AS pos, gram),
                 gd AS (SELECT doc_id, gram, count(*) AS cnt
                        FROM g GROUP BY doc_id, gram),
                 w AS (SELECT doc_id, cnt,
                         min(doc_id) OVER (PARTITION BY gram) AS first_doc
                       FROM gd),
                 j AS (SELECT doc_id,
                         sum(cnt) AS n_grams,
                         sum(CASE WHEN first_doc = doc_id THEN cnt ELSE 0 END)
                           AS n_novel
                       FROM w GROUP BY doc_id)
                 SELECT doc_id, n_grams, n_novel,
                   (10000 * n_novel) div n_grams AS novelty_bp
                 FROM j ORDER BY doc_id""")
      },
      Some(s"""WITH ${LlmOps.toksSql},
              g AS (
                SELECT doc_id, gram FROM (
                  SELECT doc_id,
                    token || ' ' || lead(token, 1) OVER w
                      || ' ' || lead(token, 2) OVER w AS gram
                  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
                WHERE gram IS NOT NULL),
              firsts AS (
                SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
              j AS (
                SELECT g.doc_id, count(*) AS n_grams,
                  count(CASE WHEN f.first_doc = g.doc_id THEN 1 END) AS n_novel
                FROM g JOIN firsts f ON g.gram = f.gram
                GROUP BY g.doc_id)
              SELECT doc_id, n_grams, n_novel,
                (10000 * n_novel) // n_grams AS novelty_bp
              FROM j ORDER BY doc_id"""))
  )
}
