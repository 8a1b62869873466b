package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 category K — similarity search, near-dup-graph analytics,
  * and the multimodal join (split out of LlmOps.scala along its comment
  * seams, round-7 verdict #8; zero behavior change).
  *
  * Scale design: the exact similarity queries bound their candidate set by
  * a FIXED probe predicate (vec_id<5 / %50), so work is linear in corpus
  * size — scan ∥ broadcast ∥ fold; the unbounded ANN path is
  * `sim_lsh_approx` (banded random-hyperplane LSH + exact re-rank). The
  * graph analytics ride the memoized verified-pair relation built once per
  * (SparkContext, sfDir, token coding) and shared by every session, by
  * [[LlmOps.minhashSetPairs]].
  */
object SimGraph {
  import Tables._

  /** Cosine of probe set (predicate on vec_id) vs all other vectors.
    *
    * Dot products as a zip_with + sequential fold over the two arrays:
    * fully codegen'd double arithmetic, bit-identical to DuckDB's
    * list_reduce (both fold left-to-right; Spark's 0.0 init is exact), and
    * — unlike an explode + groupBy-on-pos shape — no shuffle at all: the
    * bounded probe side broadcasts and each corpus row folds locally.
    * That is the plan that survives 100 TB: scan ∥ broadcast ∥ fold.
    */
  private def cosine(s: SparkSession, d: String, probePred: Column): DataFrame = {
    val normExpr = sqrt(aggregate(
      transform(col("embedding"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (a, x) => a + x))
    val v = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      .withColumn("nrm", normExpr)
    val p = v.where(probePred)
      .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"), col("nrm").as("pn"))
    v.join(broadcast(p), col("vec_id") =!= col("p_id"))
      .withColumn("dot", aggregate(
        zip_with(col("p_emb"), col("embedding"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (a, x) => a + x))
      .select(col("p_id"), col("vec_id"),
        round(col("dot") / (col("pn") * col("nrm")), 6).as("cosine"))
  }

  /** DuckDB CTE text mirroring [[cosine]]; `probePred` over p.vec_id. */
  private def cosineSql(probePred: String): String =
    s"""emb2 AS (
          SELECT vec_id, embedding,
            sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
          FROM embeddings),
        cosv AS (
          SELECT p.vec_id AS p_id, v.vec_id,
            round(list_reduce(list_transform(list_zip(p.embedding, v.embedding),
                q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), (x, y) -> x + y)
              / (p.nrm * v.nrm), 6) AS cosine
          FROM emb2 p JOIN emb2 v ON v.vec_id <> p.vec_id
          WHERE $probePred)"""

  val all: Seq[Spec] = Seq(
    // ------------------------------------------ similarity-graph analytics
    // Degree distribution of the ≥0.9 near-dup graph — the corpus-health
    // histogram a dedup run reports (how clique-y is the corpus?). Rides
    // the memoized verified pair relation; two hash aggregates (doc grain,
    // then degree grain) and a left join to count isolated docs as
    // degree 0. Aggregate-of-aggregate: output is |distinct degrees| rows.
    //
    // RECALL ASSUMPTION (same epistemic status as dedup_minhash_full, but
    // sharper consequences): the engine side rides the BANDED-minhash
    // candidate relation while the oracle enumerates exact-Jaccard pairs,
    // so the comparison holds only because a true ≥0.9 pair misses all 8
    // bands with probability (1-0.9)^8 = 1e-8 — and unlike the pair
    // listing, ONE missed edge here shifts a whole histogram bucket (and
    // below, changes n_triangles). A recall-independent alternative is to
    // derive the oracle from the same banded candidates; we keep the
    // exact oracle precisely because it also audits banding recall at
    // fixture scale.
    Spec("graph_degree_dist",
      (s, d) => {
        // Degree at SET grain (round 15): the old form expanded the
        // verified set pairs to ~1M doc pairs and shuffled ~2M endpoint
        // rows just to count edges per doc. Every doc in set g is
        // adjacent to its |g|−1 set-mates plus ALL members of each
        // verified neighbor set, so degree(d∈g) = (|g|−1) +
        // Σ_{t~g} |t| — one 29k-row aggregate over the memoized pair
        // relation, then a per-doc explode of the cached groups. Same
        // histogram (isolated docs fall out as degree 0), oracle
        // unchanged; the quadratic doc-pair stream never materializes.
        val groups = LlmOps.tokenSetGroups(s, d)
        val sp = LlmOps.minhashSetPairs(s, d)
        val sym = sp.select(col("sa").as("set_id"), col("msz_sb").as("nsz"))
          .unionByName(sp.select(col("sb").as("set_id"),
            col("msz_sa").as("nsz")))
        val cross = sym.groupBy("set_id").agg(sum("nsz").as("cross"))
        groups.join(cross, Seq("set_id"), "left")
          .select((size(col("members")).cast("long") - 1 +
            coalesce(col("cross"), lit(0L))).as("degree"),
            explode(col("members")).as("doc_id"))
          .groupBy("degree").agg(count(lit(1)).as("n_docs"))
          .orderBy("degree")
      },
      Some(s"""WITH ${LlmOps.pairCte("")},
               p AS (SELECT d1, d2 FROM j WHERE jaccard >= 0.9),
               ends AS (SELECT d1 AS doc_id FROM p
                        UNION ALL SELECT d2 AS doc_id FROM p),
               deg AS (SELECT doc_id, count(*) AS degree FROM ends
                       GROUP BY doc_id)
               SELECT coalesce(deg.degree, 0) AS degree, count(*) AS n_docs
               FROM documents d LEFT JOIN deg ON d.doc_id = deg.doc_id
               GROUP BY 1 ORDER BY degree""")),

    // Triangle counting (the standard graph-motif statistic) on the
    // CONTRACTED set graph — same contraction argument as
    // dedup_cc_labelprop: identical-token-set docs collapse to one node,
    // so the 3-way join runs on ~29k set edges at sf0.1 instead of ~2M doc
    // edges (where clique density would make the triangle count itself
    // quadratic-explosive). Edges are oriented sa<sb by construction, so
    // each triangle a<b<c is counted exactly once by the canonical
    // wedge-close join: (a,b)⋈(b,c)⋈(a,c). The oracle restates the token-
    // SET grouping and the exact Jaccard pair relation at set grain.
    Spec("graph_triangle_count",
      (s, d) => {
        val e = LlmOps.minhashSetPairs(s, d).select("sa", "sb")
        val wedge = e.select(col("sa").as("a"), col("sb").as("b"))
          .join(e.select(col("sa").as("b"), col("sb").as("c")), "b")
        val tri = wedge.join(
          e.select(col("sa").as("a"), col("sb").as("c")), Seq("a", "c"))
        val nodes = LlmOps.tokenSetGroups(s, d).select("set_id")
        tri.agg(count(lit(1)).as("n_triangles"))
          .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
          .crossJoin(broadcast(nodes.agg(count(lit(1)).as("n_nodes"))))
          .select("n_nodes", "n_edges", "n_triangles")
      },
      Some("""WITH sets AS (
                 SELECT min(doc_id) AS set_id,
                   list_sort(list_distinct(string_split(text, ' '))) AS ts
                 FROM documents
                 GROUP BY list_sort(list_distinct(string_split(text, ' ')))),
               stk AS (SELECT set_id, unnest(ts) AS token FROM sets),
               ssz AS (SELECT set_id, count(*) AS nt FROM stk GROUP BY set_id),
               sp AS (
                 SELECT a.set_id AS sa, b.set_id AS sb, count(*) AS inter
                 FROM stk a JOIN stk b
                   ON a.token = b.token AND a.set_id < b.set_id
                 GROUP BY a.set_id, b.set_id),
               se AS (
                 SELECT sa, sb FROM sp
                   JOIN ssz za ON sa = za.set_id
                   JOIN ssz zb ON sb = zb.set_id
                 WHERE CAST(inter AS DOUBLE) / (za.nt + zb.nt - inter) >= 0.9)
               SELECT
                 (SELECT count(*) FROM sets) AS n_nodes,
                 (SELECT count(*) FROM se) AS n_edges,
                 (SELECT count(*)
                  FROM se ab JOIN se bc ON ab.sb = bc.sa
                             JOIN se ac ON ac.sa = ab.sa AND ac.sb = bc.sb)
                   AS n_triangles""")),

    // PageRank (10 damped iterations, d=0.85) on the CONTRACTED set graph
    // — "which documents sit at the center of the near-dup mesh", the
    // centrality signal a dedup triage report ranks clusters by. The
    // iterative sum is the classic determinism trap: floating-point
    // contributions merge in partition order. Here every per-node
    // contribution is floor-scaled to an exact BIGINT (floor(rank/deg ·
    // 1e12)) before summing — long sums are exact and order-free — and
    // the rank update is a fixed IEEE dag on those exact sums, so ranks
    // are bit-identical across engines and partitionings WITHOUT
    // rounding, through all ten iterations (the agg_corr_covar / zscore
    // discipline applied to an iterative algorithm). Dangling/isolated
    // nodes keep the teleport term only (no redistribution — documented
    // mass leak, same choice both sides). Scale: O(E) join + hash-agg
    // per iteration on the contracted graph, width sized to it
    // (cc_labelprop idiom). Round-11 shape (r10 verdict #5, measured
    // 3.2 → 1.5 s steady at sf0.1): degree is fused onto the edge
    // relation ONCE, the iteration runs only over edge-having nodes
    // (every such node receives ≥ 1 contribution per round in the
    // symmetric graph, so the per-round all-nodes left join was dead
    // weight), and the node count is a driver constant — each round is
    // ONE join + ONE aggregate, the Pregel-superstep minimum of one
    // message shuffle per round. Isolated nodes (constant teleport-only
    // rank) are unioned back once at the end through the identical IEEE
    // dag, so ranks stay bit-exact vs the oracle. Lineage: `pr` is
    // consumed exactly once per round, one localCheckpoint every 5
    // rounds bounds the plan at ~5 join layers; the remaining ~0.13
    // s/round is per-stage scheduler latency on the tiny contracted
    // fixture graph, not data — the cold path (memo build) is why this
    // query stays SLOW-allowlisted. The oracle unrolls the ten
    // iterations as chained CTEs over the same exact-Jaccard edge
    // relation.
    Spec("graph_pagerank",
      (s, d) => {
        val setPairs = LlmOps.minhashSetPairs(s, d)
        val e2 = setPairs.select(col("sa").as("src"), col("sb").as("dst"))
          .unionByName(setPairs.select(col("sb").as("src"), col("sa").as("dst")))
        val p = math.max(1, math.min(32, (2L * setPairs.count() / 500000L).toInt))
        // degree fused onto each edge ONCE (round-11 shave: the profile
        // showed ~0.25 s/round of pure stage latency — 4 stages/round —
        // on the tiny contracted graph; the deg join and the all-nodes
        // left join were two of them). (src, dst, deg) is checkpointed
        // once; per round only ONE join + ONE aggregate remain.
        val deg = e2.groupBy("src").agg(count(lit(1)).as("deg"))
        val edgesD = e2.join(deg, "src").repartition(p).localCheckpoint()
        val active = edgesD.select(col("src").as("set_id")).distinct()
          .localCheckpoint() // nodes with edges — the iterated subgraph
        val nodes = LlmOps.tokenSetGroups(s, d).select("set_id")
        val nn = nodes.count() // driver constant — no per-round broadcast
        val teleport = lit(0.15) / lit(nn.toDouble)
        // Iterate ONLY over edge-having nodes: the graph is symmetric and
        // ranks are strictly positive, so every active node receives ≥ 1
        // contribution per round (induction from the all-active seed) —
        // the per-round left join against the all-nodes base is dead
        // weight. Isolated nodes hold the constant teleport-only rank
        // (their sc ≡ 0) and are unioned back once at the end; the IEEE
        // dag teleport + 0.85·(0/1e12) is written out verbatim so the
        // constant folds to the exact oracle value (x + 0.85·0.0 ≡ x).
        var pr = active.select(col("set_id"),
          (lit(1.0) / lit(nn.toDouble)).as("rank"))
        for (i <- 1 to 10) {
          pr = pr.join(edgesD, pr("set_id") === edgesD("src"))
            .select(col("dst"),
              floor(col("rank") / col("deg").cast("double") * lit(1e12))
                .cast("long").as("c"))
            .groupBy("dst").agg(sum("c").as("sc"))
            .select(col("dst").as("set_id"),
              (teleport +
                lit(0.85) * (col("sc").cast("double") / lit(1e12))).as("rank"))
          // one mid-iteration checkpoint bounds the plan at ~5 join
          // layers; the OLD i%5 form also checkpointed at i=10, paying a
          // whole eager materialization action whose only consumer is
          // the final sort — the closing job absorbs those 5 layers for
          // free (round 12)
          if (i == 5) pr = pr.localCheckpoint()
        }
        val isolated = nodes.join(active, Seq("set_id"), "left_anti")
          .select(col("set_id"),
            (teleport +
              lit(0.85) * (lit(0L).cast("double") / lit(1e12))).as("rank"))
        pr.unionByName(isolated)
          .orderBy(desc("rank"), asc("set_id")).limit(20)
      },
      Some {
        val iters = (1 to 10).map { k =>
          s"""pr$k AS (
             SELECT n.set_id,
               CAST(0.15 AS DOUBLE) / (SELECT CAST(nn AS DOUBLE) FROM nn) +
               CAST(0.85 AS DOUBLE) *
                 (CAST(coalesce(c.sc, 0) AS DOUBLE) / 1e12) AS rank
             FROM nodes n LEFT JOIN (
               SELECT e.dst AS set_id,
                 CAST(sum(CAST(floor(p.rank / CAST(d.deg AS DOUBLE) * 1e12)
                   AS BIGINT)) AS BIGINT) AS sc
               FROM pr${k - 1} p
                 JOIN e2 e ON p.set_id = e.src
                 JOIN deg d ON d.src = e.src
               GROUP BY e.dst) c ON n.set_id = c.set_id)"""
        }.mkString(",\n")
        s"""WITH sets AS (
              SELECT min(doc_id) AS set_id,
                list_sort(list_distinct(string_split(text, ' '))) AS ts
              FROM documents
              GROUP BY list_sort(list_distinct(string_split(text, ' ')))),
            stk AS (SELECT set_id, unnest(ts) AS token FROM sets),
            ssz AS (SELECT set_id, count(*) AS nt FROM stk GROUP BY set_id),
            sp AS (
              SELECT a.set_id AS sa, b.set_id AS sb, count(*) AS inter
              FROM stk a JOIN stk b
                ON a.token = b.token AND a.set_id < b.set_id
              GROUP BY a.set_id, b.set_id),
            se AS (
              SELECT sa, sb FROM sp
                JOIN ssz za ON sa = za.set_id
                JOIN ssz zb ON sb = zb.set_id
              WHERE CAST(inter AS DOUBLE) / (za.nt + zb.nt - inter) >= 0.9),
            e2 AS (SELECT sa AS src, sb AS dst FROM se
                   UNION ALL SELECT sb AS src, sa AS dst FROM se),
            deg AS (SELECT src, count(*) AS deg FROM e2 GROUP BY src),
            nodes AS (SELECT set_id FROM sets),
            nn AS (SELECT count(*) AS nn FROM nodes),
            pr0 AS (
              SELECT set_id,
                CAST(1.0 AS DOUBLE) / (SELECT CAST(nn AS DOUBLE) FROM nn)
                  AS rank
              FROM nodes),
            $iters
            SELECT set_id, rank FROM pr10
            ORDER BY rank DESC, set_id LIMIT 20"""
      }),

    // ------------------------------------------------------ similarity
    Spec("sim_cosine_topk",
      (s, d) => {
        val w = Window.partitionBy("p_id").orderBy(desc("cosine"), asc("vec_id"))
        cosine(s, d, col("vec_id") < 5)
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 5)
          .select("p_id", "rnk", "vec_id", "cosine")
          .orderBy("p_id", "rnk")
      },
      Some(s"""WITH ${cosineSql("p.vec_id < 5")}
               SELECT p_id, rnk, vec_id, cosine FROM (
                 SELECT p_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY p_id ORDER BY cosine DESC, vec_id) AS rnk
                 FROM cosv) WHERE rnk <= 5
               ORDER BY p_id, rnk""")),

    // 3-NN majority vote; ties → lowest label.
    Spec("sim_knn_classify",
      (s, d) => {
        val wN = Window.partitionBy("p_id").orderBy(desc("cosine"), asc("vec_id"))
        val nn = cosine(s, d, col("vec_id") % 50 === 0)
          .withColumn("rnk", row_number().over(wN))
          .where(col("rnk") <= 3)
        val lbl = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        val votes = nn.join(lbl, "vec_id")
          .groupBy("p_id", "label").agg(count(lit(1)).as("votes"))
        val wV = Window.partitionBy("p_id").orderBy(desc("votes"), asc("label"))
        val pred = votes.withColumn("vr", row_number().over(wV)).where(col("vr") === 1)
          .select(col("p_id"), col("label").as("pred"), col("votes"))
        pred.join(lbl.select(col("vec_id").as("p_id"), col("label").as("true_label")), "p_id")
          .select("p_id", "true_label", "pred", "votes")
          .orderBy("p_id")
      },
      Some(s"""WITH ${cosineSql("p.vec_id % 50 = 0")},
               nn AS (
                 SELECT p_id, vec_id FROM (
                   SELECT p_id, vec_id,
                     row_number() OVER (PARTITION BY p_id ORDER BY cosine DESC, vec_id) AS rnk
                   FROM cosv) WHERE rnk <= 3),
               votes AS (
                 SELECT nn.p_id, e.label, count(*) AS votes
                 FROM nn JOIN embeddings e ON nn.vec_id = e.vec_id
                 GROUP BY nn.p_id, e.label),
               pred AS (
                 SELECT p_id, label AS pred, votes FROM (
                   SELECT p_id, label, votes,
                     row_number() OVER (PARTITION BY p_id ORDER BY votes DESC, label) AS vr
                   FROM votes) WHERE vr = 1)
               SELECT p.p_id, e.label AS true_label, p.pred, p.votes
               FROM pred p JOIN embeddings e ON p.p_id = e.vec_id
               ORDER BY p.p_id""")),

    // Random-hyperplane LSH ANN — the sub-quadratic similarity path. The
    // LSH stage only GENERATES candidates: bucketLength 4.0 over 16 OR'd
    // tables puts the per-pair miss probability around 1e-10 for pairs at
    // ranking-relevant distance (top-5 dists sit at ~1.1-1.25, far inside
    // the 2.5 budget; collision prob per table ≈ 1-E|N(0,c²)|/4 ≈ 0.75),
    // so the candidate set whp contains every neighbor the query can rank.
    // Exact euclidean distance is then recomputed with the same zip_with
    // fold the oracle uses (bit-identical sequential double sums), making
    // the top-5 per probe deterministic — the oracle computes it by brute
    // force.
    Spec("sim_lsh_approx",
      (s, d) => {
        import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
        import org.apache.spark.ml.functions.array_to_vector
        val emb = t(s, d, "embeddings")
          .withColumn("vec", array_to_vector(transform(col("embedding"), x => x.cast("double"))))
          .select("vec_id", "vec", "embedding")
        val brp = new BucketedRandomProjectionLSH().setInputCol("vec").setOutputCol("hashes")
          .setBucketLength(4.0).setNumHashTables(16).setSeed(42L)
        val model = brp.fit(emb)
        val probes = emb.where(col("vec_id") < 5)
        val exactDist = sqrt(aggregate(
          zip_with(col("p_emb"), col("c_emb"),
            (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
          lit(0.0), (a, x) => a + x))
        val w = Window.partitionBy("p_id").orderBy(asc("dist"), asc("vec_id"))
        model.approxSimilarityJoin(probes, emb, 2.5, "lsh_dist")
          .select(
            col("datasetA.vec_id").as("p_id"), col("datasetA.embedding").as("p_emb"),
            col("datasetB.vec_id").as("vec_id"), col("datasetB.embedding").as("c_emb"))
          .where(col("p_id") =!= col("vec_id"))
          .withColumn("dist", round(exactDist, 6))
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 5)
          .select("p_id", "rnk", "vec_id", "dist")
          .orderBy("p_id", "rnk")
      },
      Some("""WITH dists AS (
                SELECT p.vec_id AS p_id, v.vec_id,
                  round(sqrt(list_reduce(list_transform(list_zip(p.embedding, v.embedding),
                      q -> (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))
                         * (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))),
                    (a, b) -> a + b)), 6) AS dist,
                  sqrt(list_reduce(list_transform(list_zip(p.embedding, v.embedding),
                      q -> (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))
                         * (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))),
                    (a, b) -> a + b)) AS dist_raw
                FROM embeddings p JOIN embeddings v ON v.vec_id <> p.vec_id
                WHERE p.vec_id < 5)
              SELECT p_id, rnk, vec_id, dist FROM (
                SELECT p_id, vec_id, dist,
                  row_number() OVER (PARTITION BY p_id ORDER BY dist, vec_id) AS rnk
                FROM dists WHERE dist_raw <= 2.5)
              WHERE rnk <= 5 ORDER BY p_id, rnk""")),

    // INT8 scalar quantization + recall audit — the standard ANN memory
    // compression (4 bytes→1 per element; FAISS SQ8 / Milvus / pgvector
    // halfvec all ship this). Each vector is quantized independently:
    // q_i = ⌊x_i · 127 / max|x|⌋ (floor of a deterministic double →
    // identical int8 on both engines); approximate cosine is then an
    // EXACT-integer dot product over quantized values (Σ qa·qb as BIGINT,
    // norms Σ q² likewise — magnitudes ≤ 64·127² keep products < 2^63),
    // one IEEE division at the end. The query reports recall@5 of the
    // quantized ranking against the exact-cosine top-5 — the audit that
    // decides whether the compressed index is shippable.
    // Scale: same broadcast-probe fold as `cosine` (zero shuffle), but at
    // 100 TB the quantized corpus is 4× smaller in memory/scan — that is
    // the point; the exact side here is the fixture-scale referee.
    Spec("sim_quantized_recall",
      (s, d) => {
        val qv = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
          .withColumn("mx",
            array_max(transform(col("embedding"), x => abs(x.cast("double")))))
          .withColumn("q",
            transform(col("embedding"),
              x => floor(x.cast("double") * lit(127.0) / col("mx")).cast("long")))
          .withColumn("qn",
            aggregate(transform(col("q"), v => v * v), lit(0L), (a, v) => a + v))
          .select("vec_id", "q", "qn")
        val p = qv.where(col("vec_id") < 5)
          .select(col("vec_id").as("p_id"), col("q").as("pq"), col("qn").as("pqn"))
        val qcos = qv.join(broadcast(p), col("vec_id") =!= col("p_id"))
          .withColumn("dq",
            aggregate(zip_with(col("pq"), col("q"), (a, b) => a * b),
              lit(0L), (acc, v) => acc + v))
          .select(col("p_id"), col("vec_id"),
            round(col("dq").cast("double") /
              sqrt((col("pqn") * col("qn")).cast("double")), 6).as("qcos"))
        val wQ = Window.partitionBy("p_id").orderBy(desc("qcos"), asc("vec_id"))
        val atop = qcos.withColumn("rnk", row_number().over(wQ))
          .where(col("rnk") <= 5).select("p_id", "vec_id")
        val wE = Window.partitionBy("p_id").orderBy(desc("cosine"), asc("vec_id"))
        val etop = cosine(s, d, col("vec_id") < 5)
          .withColumn("rnk", row_number().over(wE))
          .where(col("rnk") <= 5).select("p_id", "vec_id")
        val hits = atop.join(etop, Seq("p_id", "vec_id"))
          .groupBy("p_id").agg(count(lit(1)).as("c"))
        atop.select("p_id").distinct()
          .join(hits, Seq("p_id"), "left")
          .select(col("p_id"),
            coalesce(col("c"), lit(0L)).as("n_hit"),
            round(coalesce(col("c"), lit(0L)) / lit(5.0), 2).as("recall5"))
          .orderBy("p_id")
      },
      Some(s"""WITH ${cosineSql("p.vec_id < 5")},
               qv AS (
                 SELECT vec_id,
                   list_transform(embedding, x -> CAST(floor(
                     CAST(x AS DOUBLE) * 127.0 /
                     list_aggregate(list_transform(embedding,
                       y -> abs(CAST(y AS DOUBLE))), 'max')) AS BIGINT)) AS q
                 FROM embeddings),
               qn AS (
                 SELECT vec_id, q,
                   list_reduce(list_transform(q, v -> v * v),
                     (a, b) -> a + b) AS qn
                 FROM qv),
               qcos AS (
                 SELECT p.vec_id AS p_id, v.vec_id,
                   round(CAST(list_reduce(list_transform(list_zip(p.q, v.q),
                       z -> z[1] * z[2]), (a, b) -> a + b) AS DOUBLE)
                     / sqrt(CAST(p.qn * v.qn AS DOUBLE)), 6) AS qcos
                 FROM qn p JOIN qn v ON v.vec_id <> p.vec_id
                 WHERE p.vec_id < 5),
               atop AS (
                 SELECT p_id, vec_id FROM (
                   SELECT p_id, vec_id, row_number() OVER (PARTITION BY p_id
                     ORDER BY qcos DESC, vec_id) AS rnk
                   FROM qcos) WHERE rnk <= 5),
               etop AS (
                 SELECT p_id, vec_id FROM (
                   SELECT p_id, vec_id, row_number() OVER (PARTITION BY p_id
                     ORDER BY cosine DESC, vec_id) AS rnk
                   FROM cosv) WHERE rnk <= 5),
               hits AS (
                 SELECT a.p_id, CAST(count(*) AS BIGINT) AS c
                 FROM atop a JOIN etop e
                   ON a.p_id = e.p_id AND a.vec_id = e.vec_id
                 GROUP BY a.p_id)
               SELECT p.p_id, coalesce(h.c, 0) AS n_hit,
                 round(coalesce(h.c, 0) / 5.0, 2) AS recall5
               FROM (SELECT DISTINCT p_id FROM atop) p
                 LEFT JOIN hits h ON p.p_id = h.p_id
               ORDER BY p.p_id""")),

    // ---------------------------------------- retrieval-quality metrics
    // Mean-reciprocal-rank audit of the cosine retrieval surface: for each
    // probe, rank the whole corpus by cosine (the sim_cosine_topk ranking,
    // same rounded-to-6 scores and vec_id tie-break, so the permutation is
    // bit-identical cross-engine) and report the rank of the first
    // neighbor sharing the probe's label. This is THE metric an embedding
    // pipeline regression-gates on: it measures whether the space still
    // places same-class items first, independent of any k cutoff.
    // Determinism: row_number over (rounded cosine, vec_id) is exact;
    // min(rnk) is exact; 1/rank is one IEEE division on an exact integer.
    // Scale: rides `cosine` — bounded probe broadcast, corpus-linear fold,
    // per-probe min as a hash agg; no global sort (ORDER BY is |probes|).
    Spec("eval_mrr",
      (s, d) => {
        val lbl = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        val w = Window.partitionBy("p_id").orderBy(desc("cosine"), asc("vec_id"))
        cosine(s, d, col("vec_id") < 5)
          .withColumn("rnk", row_number().over(w))
          .join(lbl, "vec_id")
          .join(broadcast(lbl.where(col("vec_id") < 5)
            .select(col("vec_id").as("p_id"), col("label").as("p_label"))), "p_id")
          .where(col("label") === col("p_label"))
          .groupBy("p_id").agg(min("rnk").as("first_rel_rank"))
          .select(col("p_id"), col("first_rel_rank"),
            round(lit(1.0) / col("first_rel_rank"), 6).as("rr"))
          .orderBy("p_id")
      },
      Some(s"""WITH ${cosineSql("p.vec_id < 5")},
               ranked AS (
                 SELECT p_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY p_id
                     ORDER BY cosine DESC, vec_id) AS rnk
                 FROM cosv),
               rel AS (
                 SELECT r.p_id, min(r.rnk) AS first_rel_rank
                 FROM ranked r
                   JOIN embeddings e ON r.vec_id = e.vec_id
                   JOIN embeddings p ON r.p_id = p.vec_id
                 WHERE e.label = p.label
                 GROUP BY r.p_id)
               SELECT p_id, first_rel_rank,
                 round(1.0 / first_rel_rank, 6) AS rr
               FROM rel ORDER BY p_id""")),

    // NDCG@10 with binary relevance (neighbor shares the probe's label) —
    // the graded companion to eval_mrr: MRR sees only the first hit, NDCG
    // scores the whole top-10 against the best achievable ordering. Both
    // DCG and ideal DCG are summed as floor-scaled BIGINTs
    // (floor(1e12/log2(rank+1))): each term is a deterministic double →
    // identical floor on both engines, and long sums are exact and
    // order-free, so ndcg = dcg/idcg is one IEEE division on two exact
    // integers — bit-identical with NO float accumulation (the eval_auc /
    // graph_pagerank discipline). The ideal DCG enumerates
    // min(n_relevant, 10) positions via sequence + an exact long fold.
    // Scale: same corpus-linear cosine + per-probe top-10 window; the
    // relevant-count side is one broadcast-joined hash agg over labels.
    Spec("eval_ndcg",
      (s, d) => {
        val lbl = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        val probeLbl = broadcast(lbl.where(col("vec_id") < 5)
          .select(col("vec_id").as("p_id"), col("label").as("p_label")))
        val w = Window.partitionBy("p_id").orderBy(desc("cosine"), asc("vec_id"))
        val scaledGain = floor(lit(1.0e12) / log2(col("rnk") + lit(1))).cast("long")
        val dcg = cosine(s, d, col("vec_id") < 5)
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 10)
          .join(lbl, "vec_id").join(probeLbl, "p_id")
          .groupBy("p_id")
          .agg(sum(when(col("label") === col("p_label"), scaledGain)
            .otherwise(lit(0L))).as("dcg_s"))
        // n_relevant per probe = same-label corpus rows minus the probe.
        val relCnt = lbl.groupBy("label").agg(count(lit(1)).as("n_lbl"))
        val ideal = probeLbl.join(broadcast(relCnt),
            col("p_label") === col("label"))
          .select(col("p_id"), least(col("n_lbl") - 1, lit(10)).as("k"))
          .withColumn("idcg_s", aggregate(
            sequence(lit(1), col("k")),
            lit(0L),
            (acc, i) => acc +
              floor(lit(1.0e12) / log2(i.cast("double") + lit(1.0))).cast("long")))
        dcg.join(ideal, "p_id")
          .select(col("p_id"), col("k").as("n_ideal"),
            round(col("dcg_s").cast("double") / col("idcg_s").cast("double"), 6)
              .as("ndcg10"))
          .orderBy("p_id")
      },
      Some(s"""WITH ${cosineSql("p.vec_id < 5")},
               ranked AS (
                 SELECT p_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY p_id
                     ORDER BY cosine DESC, vec_id) AS rnk
                 FROM cosv),
               dcg AS (
                 SELECT r.p_id,
                   CAST(sum(CASE WHEN e.label = p.label
                     THEN CAST(floor(1e12 / log2(r.rnk + 1)) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS dcg_s
                 FROM ranked r
                   JOIN embeddings e ON r.vec_id = e.vec_id
                   JOIN embeddings p ON r.p_id = p.vec_id
                 WHERE r.rnk <= 10
                 GROUP BY r.p_id),
               relcnt AS (SELECT label, count(*) AS n_lbl FROM embeddings
                          GROUP BY label),
               ideal AS (
                 SELECT p.vec_id AS p_id,
                   least(rc.n_lbl - 1, 10) AS k,
                   list_reduce(list_transform(
                     range(1, CAST(least(rc.n_lbl - 1, 10) AS BIGINT) + 1),
                     i -> CAST(floor(1e12 / log2(CAST(i AS DOUBLE) + 1.0))
                       AS BIGINT)),
                     (a, b) -> a + b) AS idcg_s
                 FROM embeddings p JOIN relcnt rc ON p.label = rc.label
                 WHERE p.vec_id < 5)
               SELECT d.p_id, i.k AS n_ideal,
                 round(CAST(d.dcg_s AS DOUBLE) / CAST(i.idcg_s AS DOUBLE), 6)
                   AS ndcg10
               FROM dcg d JOIN ideal i ON d.p_id = i.p_id
               ORDER BY d.p_id""")),

    // ------------------------------------------------------ multimodal
    Spec("multimodal_join",
      (s, d) => {
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
          .withColumn("l2",
            sqrt(aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
              lit(0.0), (a, x) => a + x)))
        docs.join(emb, docs("doc_id") === emb("vec_id"))
          .withColumn("rec", struct(
            col("lang").as("lang"), col("n_chars").as("n_chars"),
            round(col("l2"), 6).as("l2_norm"), col("label").as("label")))
          .where(col("rec.lang").isin("en", "fr") && col("rec.label") < 5)
          .select(
            col("doc_id"), col("rec.lang").as("lang"), col("rec.n_chars").as("n_chars"),
            col("rec.l2_norm").as("l2_norm"), col("rec.label").as("label"))
          .orderBy("doc_id")
      },
      Some("""WITH emb AS (
                SELECT vec_id, label,
                  sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS l2
                FROM embeddings),
              j AS (
                SELECT d.doc_id,
                  struct_pack(lang := d.lang, n_chars := d.n_chars,
                    l2_norm := round(e.l2, 6), label := e.label) AS rec
                FROM documents d JOIN emb e ON d.doc_id = e.vec_id)
              SELECT doc_id, rec.lang AS lang, rec.n_chars AS n_chars,
                rec.l2_norm AS l2_norm, rec.label AS label
              FROM j WHERE rec.lang IN ('en', 'fr') AND rec.label < 5
              ORDER BY doc_id""")),

    // Two-stage retrieve-then-rerank — the canonical production ANN
    // serving pipeline (coarse compressed index → exact rerank of a
    // small candidate set): stage 1 ranks the corpus by INT8-quantized
    // cosine (sim_quantized_recall's exact-BIGINT dot products) and keeps
    // top-20 candidates per probe; stage 2 recomputes EXACT cosine for
    // those 20 only and keeps top-5. The audit reports recall@5 against
    // the exact top-5 — by construction ≥ the single-stage quantized
    // recall (rerank can only fix stage-1 ordering errors inside the
    // candidate set; it cannot recover a neighbor stage 1 dropped). At
    // 100 TB the full scan touches only 1-byte codes and the float math
    // runs on 20 rows/probe; the full exact scan here is the
    // fixture-scale referee, not part of the served path.
    Spec("sim_retrieve_rerank",
      (s, d) => {
        val qv = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
          .withColumn("mx",
            array_max(transform(col("embedding"), x => abs(x.cast("double")))))
          .withColumn("q",
            transform(col("embedding"),
              x => floor(x.cast("double") * lit(127.0) / col("mx")).cast("long")))
          .withColumn("qn",
            aggregate(transform(col("q"), v => v * v), lit(0L), (a, v) => a + v))
          .select("vec_id", "q", "qn")
        val p = qv.where(col("vec_id") < 5)
          .select(col("vec_id").as("p_id"), col("q").as("pq"), col("qn").as("pqn"))
        val qcos = qv.join(broadcast(p), col("vec_id") =!= col("p_id"))
          .withColumn("dq",
            aggregate(zip_with(col("pq"), col("q"), (a, b) => a * b),
              lit(0L), (acc, v) => acc + v))
          .select(col("p_id"), col("vec_id"),
            round(col("dq").cast("double") /
              sqrt((col("pqn") * col("qn")).cast("double")), 6).as("qcos"))
        val wQ = Window.partitionBy("p_id").orderBy(desc("qcos"), asc("vec_id"))
        val cand = qcos.withColumn("rnk", row_number().over(wQ))
          .where(col("rnk") <= 20).select("p_id", "vec_id")
        val exact = cosine(s, d, col("vec_id") < 5)
        val wR = Window.partitionBy("p_id").orderBy(desc("cosine"), asc("vec_id"))
        val rtop = cand.join(exact, Seq("p_id", "vec_id"))
          .withColumn("rnk", row_number().over(wR))
          .where(col("rnk") <= 5).select("p_id", "vec_id")
        val etop = exact.withColumn("rnk", row_number().over(wR))
          .where(col("rnk") <= 5).select("p_id", "vec_id")
        val hits = rtop.join(etop, Seq("p_id", "vec_id"))
          .groupBy("p_id").agg(count(lit(1)).as("c"))
        etop.select("p_id").distinct()
          .join(hits, Seq("p_id"), "left")
          .select(col("p_id"),
            coalesce(col("c"), lit(0L)).as("n_hit"),
            round(coalesce(col("c"), lit(0L)) / lit(5.0), 2).as("recall5"))
          .orderBy("p_id")
      },
      Some(s"""WITH ${cosineSql("p.vec_id < 5")},
               qv AS (
                 SELECT vec_id,
                   list_transform(embedding, x -> CAST(floor(
                     CAST(x AS DOUBLE) * 127.0 /
                     list_aggregate(list_transform(embedding,
                       y -> abs(CAST(y AS DOUBLE))), 'max')) AS BIGINT)) AS q
                 FROM embeddings),
               qn AS (
                 SELECT vec_id, q,
                   list_reduce(list_transform(q, v -> v * v),
                     (a, b) -> a + b) AS qn
                 FROM qv),
               qcos AS (
                 SELECT p.vec_id AS p_id, v.vec_id,
                   round(CAST(list_reduce(list_transform(list_zip(p.q, v.q),
                       z -> z[1] * z[2]), (a, b) -> a + b) AS DOUBLE)
                     / sqrt(CAST(p.qn * v.qn AS DOUBLE)), 6) AS qcos
                 FROM qn p JOIN qn v ON v.vec_id <> p.vec_id
                 WHERE p.vec_id < 5),
               cand AS (
                 SELECT p_id, vec_id FROM (
                   SELECT p_id, vec_id, row_number() OVER (PARTITION BY p_id
                     ORDER BY qcos DESC, vec_id) AS rnk
                   FROM qcos) WHERE rnk <= 20),
               rtop AS (
                 SELECT p_id, vec_id FROM (
                   SELECT c.p_id, c.vec_id, cosine,
                     row_number() OVER (PARTITION BY c.p_id
                       ORDER BY cosine DESC, c.vec_id) AS rnk
                   FROM cand c JOIN cosv v
                     ON c.p_id = v.p_id AND c.vec_id = v.vec_id)
                 WHERE rnk <= 5),
               etop AS (
                 SELECT p_id, vec_id FROM (
                   SELECT p_id, vec_id, row_number() OVER (PARTITION BY p_id
                     ORDER BY cosine DESC, vec_id) AS rnk
                   FROM cosv) WHERE rnk <= 5),
               hits AS (
                 SELECT r.p_id, CAST(count(*) AS BIGINT) AS c
                 FROM rtop r JOIN etop e
                   ON r.p_id = e.p_id AND r.vec_id = e.vec_id
                 GROUP BY r.p_id)
               SELECT p.p_id, coalesce(h.c, 0) AS n_hit,
                 round(coalesce(h.c, 0) / 5.0, 2) AS recall5
               FROM (SELECT DISTINCT p_id FROM etop) p
                 LEFT JOIN hits h ON p.p_id = h.p_id
               ORDER BY p.p_id"""))
  )
}
