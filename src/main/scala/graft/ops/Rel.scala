package graft.ops

import graft.{Spec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2 categories A (scans) and B (projection / filter).
  *
  * Scale notes: every query here is a single parquet scan with the filter
  * and projection pushed into the scan (verify `PushedFilters`/`ReadSchema`
  * in explain) — at 100 TB these stay embarrassingly parallel, no shuffle
  * except the final presentation sort required by the oracle hash.
  */
object Rel {
  import Tables._

  /** events rewritten once PER SF as a hive-style `event_type=.../`
    * partition layout — the directory structure a 100 TB deployment uses
    * (date/tenant dirs) so that partition values prune at PLANNING time,
    * before any file is opened.
    *
    * Unlike StreamRunner's per-session temp batches (whose content varies
    * per cacheKey), this is a deterministic function of the sf input, so
    * it persists as a CROSS-JVM fixture at a path derived from the sf dir:
    * exactly one copy per sf ever exists (no per-run /tmp growth), and
    * later JVMs (the bench run in particular) reuse it instead of paying
    * the rewrite inside a timed query. Written to a staging dir + atomic
    * rename so a concurrent first-writer race yields one winner.
    */
  /** Shared stage-plus-atomic-rename protocol for every derived cross-JVM
    * fixture below: `write` fills a staging dir (Spark leaves a _SUCCESS
    * marker), then one atomic rename publishes it — a concurrent
    * first-writer race yields exactly one winner and the loser's staging
    * dir is discarded. Returns `dest` ready to read.
    */
  private def stagedFixture(dest: java.io.File)(
      write: java.io.File => Unit): java.io.File = {
    if (!new java.io.File(dest, "_SUCCESS").exists()) {
      val stage = java.nio.file.Files
        .createTempDirectory(dest.getName + "_stage_").toFile
      write(stage)
      try java.nio.file.Files.move(stage.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { // lost the race: a concurrent writer already populated dest
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException |
             _: java.nio.file.AccessDeniedException =>
          org.apache.commons.io.FileUtils.deleteQuietly(stage)
      }
    }
    dest
  }

  private def partitionedEvents(s: SparkSession, d: String): DataFrame = {
    val dest = stagedFixture(new java.io.File(
      s"/tmp/graft_evpart_${Integer.toHexString(d.hashCode)}")) { stage =>
      t(s, d, "events").write.mode("overwrite")
        .partitionBy("event_type").parquet(stage.getPath)
    }
    s.read.parquet(dest.getPath)
  }

  /** Tiny event_type dimension (5 rows), written once as a parquet fixture
    * so the dim side of scan_dpp is a real file scan: a literal
    * `Seq(...).toDF` would be folded to a LocalRelation before the
    * PartitionPruning rule runs, and its selective-filter detection only
    * fires on a Filter that survives optimization. Same cross-JVM
    * stage-plus-atomic-rename protocol as [[partitionedEvents]].
    */
  private def eventTypeDim(s: SparkSession): DataFrame = {
    val dest = stagedFixture(new java.io.File("/tmp/graft_evdim")) { stage =>
      import s.implicits._
      Seq(("click", "engagement"), ("view", "engagement"),
          ("purchase", "conversion"), ("signup", "conversion"),
          ("error", "ops")).toDF("et", "category")
        .coalesce(1).write.mode("overwrite").parquet(stage.getPath)
    }
    s.read.parquet(dest.getPath)
  }

  /** Microsecond-exact timestamp text format shared by the CSV/JSON
    * round-trip fixtures: the default writer pattern keeps only
    * milliseconds, which would silently truncate `events.ts` (µs grain)
    * on the way out — the classic text-source fidelity bug these two
    * queries exist to catch.
    */
  private val usFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** lineitem projection written once per sf as a HEADERED CSV fixture and
    * read back with an EXPLICIT schema (inference is a second scan and a
    * correctness hazard at 100 TB — a single malformed row flips a column
    * to string). Doubles round-trip exactly: Spark writes the shortest
    * representation that re-parses to the same IEEE value. The testdata
    * parquet stores timestamps with isAdjustedToUTC=false, so Spark reads
    * l_shipdate as TIMESTAMP_NTZ — the text format for it is
    * `timestampNTZFormat` (NOT `timestampFormat`, which silently applies
    * only to the LTZ type) and the read schema must say TIMESTAMP_NTZ or
    * every value parses to null.
    */
  private def csvLineitem(s: SparkSession, d: String): DataFrame = {
    val dest = stagedFixture(new java.io.File(
      s"/tmp/graft_csvrt_${Integer.toHexString(d.hashCode)}")) { stage =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_shipdate")
        .write.mode("overwrite")
        .option("header", "true").option("timestampNTZFormat", usFmt)
        .csv(stage.getPath)
    }
    s.read
      .schema("l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
        "l_extendedprice DOUBLE, l_returnflag STRING, " +
        "l_shipdate TIMESTAMP_NTZ")
      .option("header", "true").option("timestampNTZFormat", usFmt)
      .csv(dest.getPath)
  }

  /** events projection written once per sf as JSON-lines and read back
    * with an explicit schema — the interchange format half of the text
    * round trip (µs timestamps via [[usFmt]], doubles via Jackson's
    * shortest-round-trip repr).
    */
  private def jsonEvents(s: SparkSession, d: String): DataFrame = {
    val dest = stagedFixture(new java.io.File(
      s"/tmp/graft_jsonrt_${Integer.toHexString(d.hashCode)}")) { stage =>
      t(s, d, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
        .write.mode("overwrite").option("timestampFormat", usFmt)
        .json(stage.getPath)
    }
    s.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, ts TIMESTAMP")
      .option("timestampFormat", usFmt)
      .json(dest.getPath)
  }

  val all: Seq[Spec] = Seq(
    // -------------------------------------------------- A. scans
    Spec("scan_full",
      (s, d) => t(s, d, "region").orderBy("r_regionkey"),
      Some("SELECT * FROM region ORDER BY r_regionkey")),

    // Column pruning: 3 of 11 lineitem columns; ReadSchema must shrink.
    // (l_orderkey, l_linenumber) is NOT unique in this data — every
    // lineitem-grain query orders by ALL output columns so ties are full
    // duplicates and the hash is order-insensitive.
    Spec("scan_prune",
      (s, d) => t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
              ORDER BY l_orderkey, l_linenumber, l_quantity""")),

    // Predicate pushdown to parquet row groups.
    Spec("scan_pushdown",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_quantity") < 5)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
              FROM lineitem WHERE l_quantity < 5
              ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""")),

    // Partition-DIRECTORY pruning (the planning-time analogue of row-group
    // pushdown): the scan of the event_type=... layout plans only the two
    // matching directories — PartitionFilters in explain, asserted in
    // PartitionPruneSpec. At 100 TB this is the difference between
    // listing/opening every file and touching only the requested
    // partitions. Oracle reads the original unpartitioned table: same relation.
    Spec("scan_partition_prune",
      (s, d) => partitionedEvents(s, d)
        .where(col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), msum(col("value")).as("sum_value"))
        .orderBy("event_type"),
      Some(s"""SELECT event_type, count(*) AS n, ${msumSql("value")} AS sum_value
               FROM events WHERE event_type IN ('click', 'purchase')
               GROUP BY event_type ORDER BY event_type""")),

    // DYNAMIC partition pruning — the star-schema scan feature that
    // matters at 100 TB: the fact's pruned partition set is not knowable
    // at planning time (the filter is on the DIM's category column, not
    // the partition column), so Catalyst injects a
    // DynamicPruningExpression into the fact scan's PartitionFilters,
    // fed by the dim's reused broadcast at runtime. Only the
    // conversion-category partitions (purchase, signup) are ever read.
    // Asserted in PartitionPruneSpec alongside the static case.
    Spec("scan_dpp",
      (s, d) => partitionedEvents(s, d)
        .join(eventTypeDim(s).where(col("category") === "conversion"),
          col("event_type") === col("et"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), msum(col("value")).as("sum_value"))
        .orderBy("event_type"),
      Some(s"""SELECT event_type, count(*) AS n, ${msumSql("value")} AS sum_value
               FROM events
               JOIN (VALUES ('click','engagement'), ('view','engagement'),
                     ('purchase','conversion'), ('signup','conversion'),
                     ('error','ops')) AS dim(et, category)
                 ON event_type = dim.et
               WHERE dim.category = 'conversion'
               GROUP BY event_type ORDER BY event_type""")),

    // -------------------------------------------------- B. project / filter
    // Computed columns: identical IEEE double arithmetic on both engines →
    // bit-identical per-row results, no rounding needed.
    Spec("project_expr",
      (s, d) => t(s, d, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("charge"),
          concat(col("l_orderkey").cast("string"), lit("-"), col("l_linenumber").cast("string")).as("line_id"))
        .orderBy("l_orderkey", "l_linenumber", "revenue", "charge"),
      Some("""SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1.0 - l_discount) AS revenue,
                l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge,
                CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line_id
              FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue, charge""")),

    Spec("filter_compound",
      (s, d) => t(s, d, "orders")
        .where((col("o_orderstatus").isin("F", "P") &&
                col("o_totalprice").between(50000, 200000)) ||
               (!col("o_orderpriority").isin("5-LOW", "4-NOT SPECIFIED") &&
                col("o_orderstatus") === "O" &&
                col("o_totalprice") < 20000))
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
              FROM orders
              WHERE (o_orderstatus IN ('F','P') AND o_totalprice BETWEEN 50000 AND 200000)
                 OR (NOT o_orderpriority IN ('5-LOW','4-NOT SPECIFIED')
                     AND o_orderstatus = 'O' AND o_totalprice < 20000)
              ORDER BY o_orderkey""")),

    Spec("filter_like",
      (s, d) => t(s, d, "part")
        .where(col("p_type").like("PROMO%") ||
               (col("p_name").like("%bolt") && col("p_brand").like("Brand#1%")))
        .select("p_partkey", "p_name", "p_brand", "p_type")
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_brand, p_type FROM part
              WHERE p_type LIKE 'PROMO%'
                 OR (p_name LIKE '%bolt' AND p_brand LIKE 'Brand#1%')
              ORDER BY p_partkey""")),

    // Null semantics over a derived nullable column (nullif).
    Spec("filter_null_semantics",
      (s, d) => t(s, d, "orders")
        .withColumn("st", expr("nullif(o_orderstatus, 'P')"))
        .select(
          col("o_orderkey"), col("st"),
          col("st").isNull.as("is_null"),
          col("st").isNotNull.as("is_not_null"),
          (col("st") <=> lit("F")).as("nsafe_f"),
          (col("st") <=> lit(null).cast("string")).as("nsafe_null"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, nullif(o_orderstatus, 'P') AS st,
                (nullif(o_orderstatus, 'P') IS NULL) AS is_null,
                (nullif(o_orderstatus, 'P') IS NOT NULL) AS is_not_null,
                (nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM 'F') AS nsafe_f,
                (nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM NULL) AS nsafe_null
              FROM orders ORDER BY o_orderkey""")),

    // Hidden file-metadata columns (`_metadata.file_name` / `file_size`) —
    // the scan surface lineage/debugging tooling leans on ("which file did
    // this row come from"). Reading them is free (constant per split, no
    // extra I/O). The oracle cannot name the engine-specific path, so the
    // checkable output is the structural invariant: all rows of this
    // single-file fixture carry ONE distinct (file_name, file_size) pair,
    // plus row stats proving the data rode along intact.
    Spec("scan_metadata_cols",
      (s, d) => s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"),
          col("_metadata.file_name").as("fname"),
          col("_metadata.file_size").as("fsize"))
        .agg(
          countDistinct(col("fname"), col("fsize")).as("n_files"),
          count(lit(1)).as("n_rows"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc")),
      Some("""SELECT CAST(1 AS BIGINT) AS n_files, count(*) AS n_rows,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
              FROM documents""")),

    // NESTED JSON round trip — the schema-on-read depth test the flat
    // row can't give: a struct and an array column are BUILT from the
    // document row, written as JSON-lines, read back with an explicit
    // NESTED schema, and the extracted fields are checked against values
    // computed directly from the source table. A wrong nested schema
    // (or silent field reordering) nulls the extraction and breaks the
    // hash.
    Spec("scan_json_nested",
      (s, d) => {
        val dest = stagedFixture(new java.io.File(
          s"/tmp/graft_jsonnest_${Integer.toHexString(d.hashCode)}")) { stage =>
          t(s, d, "documents")
            .select(col("doc_id"),
              struct(col("lang"), length(col("text")).as("n_chars")).as("meta"),
              slice(split(col("text"), " "), 1, 3).as("tags"))
            .write.mode("overwrite").json(stage.getPath)
        }
        s.read
          .schema("doc_id BIGINT, " +
            "meta STRUCT<lang: STRING, n_chars: INT>, tags ARRAY<STRING>")
          .json(dest.getPath)
          .select(col("doc_id"), col("meta.lang").as("lang"),
            col("meta.n_chars").cast("long").as("n_chars"),
            size(col("tags")).cast("long").as("n_tags"),
            array_join(col("tags"), ",").as("tag_str"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len(list_slice(string_split(text, ' '), 1, 3)) AS BIGINT)
                  AS n_tags,
                array_to_string(list_slice(string_split(text, ' '), 1, 3), ',')
                  AS tag_str
              FROM documents ORDER BY doc_id""")),

    // CSV source round trip: parquet → headered CSV → explicit-schema read
    // → aggregate, checked against the ORIGINAL parquet. Any value lost in
    // text serialization (double shortening, µs truncation, quoting)
    // breaks the hash — this is the ingest-format fidelity gate a real
    // deployment runs before trusting a CSV feed. Scale: the CSV scan is
    // splittable and embarrassingly parallel; one hash-agg shuffle.
    Spec("scan_csv_roundtrip",
      (s, d) => csvLineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          msum(col("l_quantity")).as("sum_qty"),
          msum(col("l_extendedprice")).as("sum_price"),
          max(col("l_shipdate")).as("max_ship"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag, count(*) AS n,
                 ${msumSql("l_quantity")} AS sum_qty,
                 ${msumSql("l_extendedprice")} AS sum_price,
                 max(l_shipdate) AS max_ship
               FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ORC source round trip — the columnar-format sibling of the CSV/JSON
    // rows: ORC is typed (timestamps stay binary µs), so no format
    // options are needed and the check is that the second columnar
    // format preserves values and types bit-for-bit.
    Spec("scan_orc_roundtrip",
      (s, d) => {
        val dest = stagedFixture(new java.io.File(
          s"/tmp/graft_orcrt_${Integer.toHexString(d.hashCode)}")) { stage =>
          t(s, d, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice",
              "o_orderdate", "o_orderpriority")
            .write.mode("overwrite").orc(stage.getPath)
        }
        s.read.orc(dest.getPath)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            msum(col("o_totalprice")).as("sum_price"),
            max(col("o_orderdate")).as("max_date"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, count(*) AS n,
                 ${msumSql("o_totalprice")} AS sum_price,
                 max(o_orderdate) AS max_date
               FROM orders GROUP BY o_orderpriority
               ORDER BY o_orderpriority""")),

    // JSON-lines source round trip — same gate for the interchange format
    // (schema-on-read with an explicit schema; µs timestamps preserved by
    // the explicit writer format).
    Spec("scan_json_roundtrip",
      (s, d) => jsonEvents(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          msum(col("value")).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"),
          max(col("ts")).as("max_ts"))
        .orderBy("event_type"),
      Some(s"""SELECT event_type, count(*) AS n,
                 ${msumSql("value")} AS sum_value,
                 count(DISTINCT user_id) AS n_users,
                 max(ts) AS max_ts
               FROM events GROUP BY event_type ORDER BY event_type""")),

    // Statistics-only scan: global COUNT/MIN/MAX answered from parquet
    // FOOTER metadata, zero data pages read. Needs the V2 parquet source
    // (`useV1SourceList` cleared) + `parquet.aggregatePushdown`; both are
    // scoped to a forked `newSession` so no other query's plan shifts.
    // The executed scan shows `PushedAggregation: [COUNT(*), MIN(...)]`
    // (asserted in AggPushdownScanSpec) and the aggregate completes in
    // O(row-groups) — at 100 TB that is the difference between touching
    // ~100k footers and scanning every page of the fact table.
    Spec("scan_agg_pushdown",
      (s, d) => {
        val s2 = graft.GraftSession.child(s, "scan_agg_pushdown",
          "spark.sql.sources.useV1SourceList" -> "",
          "spark.sql.parquet.aggregatePushdown" -> "true")
        s2.read.parquet(s"$d/lineitem.parquet")
          .agg(count(lit(1)).as("n_rows"),
            min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"),
            min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"))
      },
      Some("""SELECT count(*) AS n_rows,
                min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
                min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
              FROM lineitem"""))
  )
}
