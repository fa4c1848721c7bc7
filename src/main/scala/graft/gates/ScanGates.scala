package graft.gates

import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import Shared._

/** Scans and sources (SURVEY §2.1): parquet/CSV/JSONL/ORC readers,
  * partitioned, bucketed and evolved layouts, and sink round trips. */
private[graft] object ScanGates {
  val gates: Seq[Gate] = Seq(
    // S1/S4 + A3: parquet scan + count action (helper_methods.py:372-380)
    Gate("q_s_scan_count", (s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("n")),
      Sql(() => "SELECT COUNT(*) AS n FROM lineitem")),

    // S1/S2: the CSV reader surface hash-gated — a seeded fixture
    // written at dump time (same bytes plain + bz2); Spark reads the
    // BZ2 side through the full option set (header, inferSchema,
    // nullValue=NA, quoted embedded commas, transparent decompress),
    // the oracle reads the PLAIN side with DuckDB's read_csv — so the
    // whole reader config is what the hash compares. Prices are exact
    // quarters: decimal-sum parity is trivial by construction.
    Gate("q_s_csv", (s, dir) => {
      val (_, bz2) = graft.sources.IO.seededCsvFixture()
      graft.sources.IO.readCsv(s, bz2)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"),
          count(col("qty")).as("n_qty"),
          sum(col("qty")).cast("bigint").as("sum_qty"),
          sum(col("price").cast("decimal(38,6)")).cast("double").as("sum_price"),
          count(col("note")).as("n_note"))
        .orderBy(col("grp"))
    },
      // CSV reader gate: DuckDB reads the PLAIN twin of the bz2 file the
      // engine parsed — same bytes, independently decoded reader options
      Sql(() => """SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(qty) AS BIGINT) AS n_qty,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
        |  CAST(count(note) AS BIGINT) AS n_note
        |FROM read_csv('/tmp/graft_csv_fixture/seeded.csv',
        |              header=true, nullstr='NA')
        |GROUP BY grp ORDER BY grp""".stripMargin)),

    // S-incr: incremental aggregate-state maintenance — merge-on-ingest
    // instead of recompute-on-read: per-key algebraic partials (cnt /
    // decimal sum / min / max) aggregated per batch and MERGED, so a new
    // batch costs one aggregation over the batch plus a key-sized merge,
    // never a re-read of the corpus. Decimal sums make state batch-split
    // invariant — the gate builds state from two half-batches and hashes
    // against the oracle's single direct aggregate.
    Gate("q_s_incr_agg", (s, dir) => {
      val o = t(s, dir, "orders")
      val inc = graft.operators.Incremental
      val b1 = inc.aggState(o.filter(col("o_orderkey") % 2 === 0),
        Seq("o_custkey"), "o_totalprice")
      val b2 = inc.aggState(o.filter(col("o_orderkey") % 2 =!= 0),
        Seq("o_custkey"), "o_totalprice")
      inc.finish(inc.merge(b1, b2, Seq("o_custkey")))
        .select(col("o_custkey"), col("cnt"),
          col("sum").cast("double").as("sum_price"),
          col("min").as("min_price"), col("max").as("max_price"), col("avg"))
        .orderBy(col("o_custkey"))
        .limit(100)
    },
      // incremental state: the oracle aggregates the WHOLE table directly —
      // hash equality proves the two-batch merged state is split-invariant
      Sql(() => """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        |        / COUNT(*), 6) AS avg
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey LIMIT 100""".stripMargin)),

    // S-audit: declarative data-quality expectations (the Deequ-style
    // ingest gate) — every row rule is a conditional sum inside ONE
    // global aggregate, uniqueness rides the same aggregate as a
    // count-distinct; adding a rule adds a buffer column, never a pass.
    // The mix includes rules that FAIL so violation counting is
    // hash-visible, plus a null-predicate rule (null == violation).
    Gate("q_s_audit", (s, dir) => {
      graft.operators.Expectations.audit(
        t(s, dir, "orders"),
        rules = Seq(
          "orderkey_not_null" -> col("o_orderkey").isNotNull,
          "totalprice_positive" -> (col("o_totalprice") > 0),
          "status_domain" -> col("o_orderstatus").isin("O", "F", "P"),
          "totalprice_under_100k" -> (col("o_totalprice") <= 100000),
          "null_predicate_counts" -> (lit(null).cast("boolean") === true)),
        uniqueKeys = Seq(
          "orderkey_unique" -> Seq("o_orderkey"),
          "custkey_unique" -> Seq("o_custkey")))
        .orderBy(col("rule"))
    },
      // expectations audit: one conditional-sum aggregate, unpivoted to a
      // row per rule — identical rule set, FALSE-or-NULL counts as a
      // violation in both engines
      Sql(() => """WITH a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN COALESCE(o_orderkey IS NOT NULL, FALSE)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v0,
        |    CAST(SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v1,
        |    CAST(SUM(CASE WHEN COALESCE(o_orderstatus IN ('O','F','P'), FALSE)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v2,
        |    CAST(SUM(CASE WHEN COALESCE(o_totalprice <= 100000, FALSE)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v3,
        |    CAST(SUM(CASE WHEN COALESCE(CAST(NULL AS BOOLEAN) = TRUE, FALSE)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v4,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS k0,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS k1
        |  FROM orders)
        |SELECT 'orderkey_not_null' AS rule, n AS n_rows, v0 AS n_violations, v0 = 0 AS pass FROM a
        |UNION ALL SELECT 'totalprice_positive', n, v1, v1 = 0 FROM a
        |UNION ALL SELECT 'status_domain', n, v2, v2 = 0 FROM a
        |UNION ALL SELECT 'totalprice_under_100k', n, v3, v3 = 0 FROM a
        |UNION ALL SELECT 'null_predicate_counts', n, v4, v4 = 0 FROM a
        |UNION ALL SELECT 'orderkey_unique', n, n - k0, n - k0 = 0 FROM a
        |UNION ALL SELECT 'custkey_unique', n, n - k1, n - k1 = 0 FROM a
        |ORDER BY rule""".stripMargin)),

    // S-merge: row-level MERGE (CDC apply / upsert) — a deterministic
    // change batch derived from the snapshot itself: %7==0 keys get TWO
    // updates (latest version wins), %7==1 keys a delete, %7==3 keys
    // spawn an insert under a fresh key. The batch collapses to its
    // latest change per key (batch-sized window), survivors come from a
    // LEFT ANTI join AQE turns into a broadcast (the snapshot never
    // shuffles), upserts union in by name.
    Gate("q_s_merge", (s, dir) => {
      val snap = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val hot = snap.filter(col("o_orderkey") % 7 === 0)
      val upd2 = hot.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), (col("o_totalprice") + 100).as("o_totalprice"),
        lit(2L).as("version"), lit("U").as("op"))
      val upd3 = hot.select(col("o_orderkey"), col("o_custkey"),
        lit("X").as("o_orderstatus"), (col("o_totalprice") + 200).as("o_totalprice"),
        lit(3L).as("version"), lit("U").as("op"))
      val dels = snap.filter(col("o_orderkey") % 7 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), lit(2L).as("version"), lit("D").as("op"))
      val ins = snap.filter(col("o_orderkey") % 7 === 3)
        .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
          col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"),
          lit(1L).as("version"), lit("I").as("op"))
      graft.operators.MergeInto.applyChanges(snap,
          upd2.unionByName(upd3).unionByName(dels).unionByName(ins),
          Seq("o_orderkey"), "version", "op")
        .orderBy(col("o_orderkey"))
    },
      // row-level MERGE: identical synthetic change batch, latest change
      // per key via the same (version DESC, op) window, NOT IN for the
      // anti join, non-delete winners unioned in
      Sql(() => """WITH snap AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |changes AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice + 100 AS o_totalprice, 2 AS version, 'U' AS op
        |  FROM snap WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, 'X', o_totalprice + 200, 3, 'U'
        |  FROM snap WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 2, 'D'
        |  FROM snap WHERE o_orderkey % 7 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice, 1, 'I'
        |  FROM snap WHERE o_orderkey % 7 = 3),
        |latest AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY o_orderkey ORDER BY version DESC, op) AS rn
        |  FROM changes),
        |win AS (SELECT * FROM latest WHERE rn = 1)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM snap
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM win)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM win WHERE op <> 'D'
        |ORDER BY o_orderkey""".stripMargin)),

    // S-jsonl: JSONL sink + explicit-schema scan round-trip — write the
    // documents table as line-delimited JSON, read it back (no inference
    // pass — that's a full extra read at scale), aggregate per lang. The
    // oracle computes the same aggregate from the parquet directly, so any
    // round-trip corruption (types, escaping, nulls) breaks the hash.
    Gate("q_s_jsonl", (s, dir) => {
      val path = tmpFor(dir, "jsonl")
      graft.sources.IO.writeJsonl(
        t(s, dir, "documents").select("doc_id", "text", "lang", "source", "n_chars"),
        path)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      graft.sources.IO.readJsonl(s, path, schema)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("sum_chars"),
          countDistinct(col("text")).as("n_distinct_text"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    },
      // jsonl round-trip: the oracle reads the parquet directly — a hash
      // match proves the Spark write→read cycle preserved every value
      Sql(() => """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_text,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // S-orc: ORC sink + scan round-trip (the Hive-lineage columnar
    // format) — same oracle-reads-parquet trick as q_s_jsonl
    Gate("q_s_orc", (s, dir) => {
      val path = tmpFor(dir, "orc")
      graft.sources.IO.writeOrc(
        t(s, dir, "documents").select("doc_id", "text", "lang", "source"), path)
      graft.sources.IO.readOrc(s, path)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("sum_chars"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("source"))
    },
      // orc round-trip: oracle reads the parquet directly — a hash match
      // proves the ORC write→read cycle preserved every value
      Sql(() => """SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // S-part: hive-partitioned parquet sink + partition-pruned scan — a
    // lang filter on the partitioned layout prunes whole directories at
    // planning time (PartitionFilters, asserted in PlanShapeSpec)
    Gate("q_s_partitioned", (s, dir) => {
      val path = tmpFor(dir, "part")
      graft.sources.IO.writePartitioned(
        t(s, dir, "documents").select("doc_id", "text", "n_chars", "lang"),
        path, Seq("lang"))
      s.read.parquet(path)
        .filter(col("lang") === "en")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    },
      // partitioned round-trip: same trick, filtered to the pruned value
      Sql(() => """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE lang = 'en'
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // S-bucketed: bucketed-table co-located join — both sides written
    // bucketed+sorted on the join key, so the recurring join runs with NO
    // exchange and NO sort (asserted in JoinOpsSpec); at 100 TB this is
    // the layout that amortizes one shuffle across every future join.
    // The oracle joins the raw parquet — a hash match proves the bucketed
    // write→catalog→scan→join cycle preserved every row.
    Gate("q_s_bucketed", (s, dir) => {
      val tmp = tmpFor(dir, "bucketed")
      graft.sources.Bucketing.writeBucketed(
        t(s, dir, "orders").select("o_custkey", "o_totalprice"),
        s"graft_orders_b_${runToken(dir)}", Seq("o_custkey"), 8, Some(s"$tmp/orders"))
      graft.sources.Bucketing.writeBucketed(
        t(s, dir, "customer").select("c_custkey", "c_nationkey"),
        s"graft_customer_b_${runToken(dir)}", Seq("c_custkey"), 8, Some(s"$tmp/customer"))
      s.table(s"graft_orders_b_${runToken(dir)}")
        .join(s.table(s"graft_customer_b_${runToken(dir)}"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(38,2)")).cast("double")
            .as("sum_price"))
        .orderBy(col("c_nationkey"))
    },
      // bucketed round-trip: the oracle joins the raw parquet — a hash match
      // proves the bucketed write→scan→join cycle preserved every row
      Sql(() => """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // S-scd2: Slowly-Changing-Dimension Type 2 history — change log →
    // validity intervals in ONE key-partitioned window shuffle:
    // run-collapse via null-safe lag compare (re-stated unchanged rows
    // never open a version), intervals via lead. Customers' order
    // stream as the change log, (status, priority) as the tracked
    // attributes.
    Gate("q_s_scd2", (s, dir) =>
      graft.operators.Scd.scd2(
          t(s, dir, "orders").where(col("o_custkey") % 5 === 0),
          Seq("o_custkey"), "o_orderkey",
          Seq("o_orderstatus", "o_orderpriority"))
        .orderBy(col("o_custkey"), col("valid_from")),
      // SCD2: identical run-collapse (IS DISTINCT FROM on the attribute
      // row) + lead over the survivors
      Sql(() => """WITH c AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
        |    lag(row(o_orderstatus, o_orderpriority)) OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderkey) AS prev
        |  FROM orders WHERE o_custkey % 5 = 0),
        |runs AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority
        |  FROM c
        |  WHERE prev IS DISTINCT FROM row(o_orderstatus, o_orderpriority))
        |SELECT o_custkey, o_orderstatus, o_orderpriority,
        |  o_orderkey AS valid_from,
        |  lead(o_orderkey) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey) AS valid_to,
        |  lead(o_orderkey) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey) IS NULL AS is_current
        |FROM runs
        |ORDER BY o_custkey, valid_from""".stripMargin)),

    // S-evolved: schema-evolution scan — two ingest batches written under
    // different schema versions (v2 adds n_chars) reconcile through
    // mergeSchema; old-batch rows surface the new column as null. The
    // oracle emulates the evolution with a CASE over the source table.
    Gate("q_s_evolved", (s, dir) => {
      val path = tmpFor(dir, "evolved")
      val d = t(s, dir, "documents")
      d.filter(col("doc_id") < 250).select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$path/batch=1")
      d.filter(col("doc_id") >= 250).select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$path/batch=2")
      graft.sources.IO.readEvolved(s, path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          count(col("n_chars")).as("n_with_chars"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("lang"))
    },
      // schema evolution: the oracle emulates the two-batch layout with a
      // CASE — v1 rows (doc_id < 250) never carried n_chars
      Sql(() => """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN doc_id >= 250 THEN n_chars END) AS BIGINT) AS n_with_chars,
        |  CAST(sum(CASE WHEN doc_id >= 250 THEN n_chars END) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // S-footers: parquet ROW-GROUP METADATA probe — per-column chunk
    // census (value/null counts, compressed/uncompressed bytes) read
    // from footers only, never data pages; one task per file batch, so
    // a million-file lake inventories in a map pass. ORACLED against
    // DuckDB's own parquet_metadata() over the SAME file — a genuinely
    // independent footer reader, not a self-computed golden.
    Gate.fitted("q_s_footers", "column_path" -> "VARCHAR", "n_chunks" -> "BIGINT",
        "num_values" -> "BIGINT", "null_count" -> "BIGINT",
        "compressed_bytes" -> "BIGINT", "uncompressed_bytes" -> "BIGINT")((s, dir) => {
      val path = s"$dir/lineitem.parquet"
      path -> graft.sources.ParquetMeta.columnProfile(s, path)
    })(
      // parquet footers: DuckDB's parquet_metadata() over the gate's
      // last path — an independent footer reader over the same bytes
      graft.sources.ParquetMeta.footersOracleSql(_)),

    // S-compact: sorted-compaction maintenance pass — range-partitioned,
    // within-file-sorted rewrite (restores row-group skipping for key
    // predicates); the oracle aggregates the source directly, so the
    // round-trip proves the rewrite lost/changed nothing
    Gate("q_s_compacted", (s, dir) => {
      val path = tmpFor(dir, "compacted")
      graft.sources.IO.compact(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        path, Seq("l_orderkey", "l_linenumber"), partitions = 8,
        maxRecordsPerFile = 100000L)
      s.read.parquet(path)
        .groupBy((col("l_orderkey") % 7).as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(38,2)")).cast("double")
            .as("sum_qty"),
          min(col("l_orderkey")).as("min_key"))
        .orderBy(col("grp"))
    },
      // compaction round-trip: oracle reads the source parquet directly
      Sql(() => """SELECT l_orderkey % 7 AS grp, CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
        |       min(l_orderkey) AS min_key
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // S-zorder: Z-order (Morton-curve) layout — multi-dimensional data
    // skipping (the Delta/Iceberg ZORDER BY lever on plain parquet). The
    // gate round-trips the real sink (quantize each layout column,
    // interleave bits, repartitionByRange + sort by the code) and hashes
    // the read-back rows with their Morton codes — the interleave is
    // pure integer bit arithmetic, bit-identical in DuckDB. The
    // file-skipping property itself (per-file min/max prune on the
    // SECOND dimension, which a linear sort cannot) is locked in
    // LayoutSpec.
    Gate("q_s_zorder", (s, dir) => {
      val path = tmpFor(dir, "zorder")
      val src = t(s, dir, "part").select("p_partkey", "p_size", "p_retailprice")
      graft.sources.Layout.writeZordered(src, path,
        Seq("p_size", "p_retailprice"), partitions = 4, bits = 8)
      s.read.parquet(path)
        .select(col("p_partkey"), col("p_size"),
          graft.sources.Layout.mortonCode(Seq(
            pmod(col("p_partkey"), lit(256)).cast("long"),
            pmod(col("p_size").cast("long"), lit(256))), 8).as("z"))
        .orderBy(col("p_partkey"))
        .limit(200)
    },
      // zorder: the Morton interleave as explicit bit arithmetic — bit
      // (2j) of z is bit j of the first dimension, bit (2j+1) the second;
      // the round-trip through the z-ordered files must preserve every row
      Sql(() => """SELECT p_partkey, p_size,
        |  CAST(list_sum(list_transform(range(0, 8), j ->
        |      (((p_partkey % 256) >> j) & 1) * (1::BIGINT << (2*j))
        |    + (((p_size % 256) >> j) & 1) * (1::BIGINT << (2*j + 1))))
        |  AS BIGINT) AS z
        |FROM part ORDER BY p_partkey LIMIT 200""".stripMargin)),

    // S-compaction: small-file compaction planning — files sort
    // (bytes DESC, path) per table partition and land in bin
    // floor(prefix/target): the deterministic one-pass first-fit-
    // decreasing analogue, one window over the METADATA-sized file
    // relation partitioned by the table partition (same parallelism the
    // rewrite job has). Fixture: a file-stats relation derived from
    // documents (source = partition, n_chars = bytes). Pure integer
    // prefix sums → oracle-exact.
    Gate("q_s_compaction", (s, dir) => {
      val files = t(s, dir, "documents")
        .select(col("source"),
          concat(lit("part-"), lpad(col("doc_id").cast("string"), 6, "0"))
            .as("path"),
          col("n_chars").cast("long").as("bytes"))
      graft.sources.Layout.compactionPlan(files, "source", "path", "bytes",
          targetBytes = 4000L)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).cast("bigint").as("n_files"),
          sum(col("bytes")).cast("bigint").as("bin_bytes"),
          max(col("oversized").cast("int")).cast("int").as("has_oversized"),
          min(col("path")).as("first_path"))
        .orderBy(col("source"), col("bin"))
    },
      // compaction plan: identical (bytes DESC, path) order, identical
      // prefix sums (pure integers), identical floor(prefix/target)
      // double division; bin census re-aggregated the same way
      Sql(() => """WITH files AS (
        |  SELECT source,
        |    'part-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS path,
        |    CAST(n_chars AS BIGINT) AS bytes
        |  FROM documents),
        |planned AS (
        |  SELECT source, path, bytes,
        |    CAST(floor((sum(bytes) OVER (PARTITION BY source
        |      ORDER BY bytes DESC, path
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes)
        |      / 4000.0) AS BIGINT) AS bin,
        |    bytes >= 4000 AS oversized
        |  FROM files)
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS bin_bytes,
        |  CAST(max(CASE WHEN oversized THEN 1 ELSE 0 END) AS INTEGER)
        |    AS has_oversized,
        |  min(path) AS first_path
        |FROM planned GROUP BY source, bin ORDER BY source, bin""".stripMargin)),

    // S-shards: rendezvous-hash routing census — the same corpus
    // assigned over 5 and 6 shards; the (before, after) matrix is
    // hash-gated and exhibits the minimal-movement property (keys only
    // ever move INTO the added shard)
    Gate("q_s_shards", (s, dir) => {
      val sh = graft.operators.Sharding
      val five = (0 until 5).map(i => s"s$i")
      t(s, dir, "documents")
        .select(col("doc_id"),
          sh.rendezvousAssign(col("doc_id"), five).as("shard_a"),
          sh.rendezvousAssign(col("doc_id"), five :+ "s5").as("shard_b"))
        .groupBy(col("shard_a"), col("shard_b"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .orderBy(col("shard_a"), col("shard_b"))
    },
      // rendezvous routing: identical per-shard md5 scores; argmax via the
      // (h, s) DESC rank twin of Spark's greatest-of-structs
      Sql(() => """WITH scored AS (
        |  SELECT doc_id, t.s,
        |    md5(CAST(doc_id AS VARCHAR) || '#' || t.s) AS h
        |  FROM documents,
        |    (VALUES ('s0'),('s1'),('s2'),('s3'),('s4'),('s5')) t(s)),
        |r AS (
        |  SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn5,
        |    CASE WHEN s <> 's5' THEN row_number() OVER (
        |      PARTITION BY doc_id, (s = 's5') ORDER BY h DESC, s DESC) END AS rn
        |  FROM scored),
        |a AS (SELECT doc_id, s AS shard_a FROM r WHERE s <> 's5' AND rn = 1),
        |b AS (SELECT doc_id, s AS shard_b FROM r WHERE rn5 = 1)
        |SELECT shard_a, shard_b, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM a JOIN b USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // S-diff: snapshot reconciliation — orders vs a deterministically
    // perturbed next version (drops, updates, inserts); one full-outer
    // join + null-safe column masks, the audit twin of MERGE/SCD2
    Gate("q_s_diff", (s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val kept = o.where(col("o_orderkey") % 19 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 31 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 23 === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      val added = o.where(col("o_orderkey") % 17 === 3)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
      graft.operators.Snapshot.diff(o, kept.unionByName(added),
          Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
      // snapshot diff: the same perturbation replayed in SQL, FULL OUTER
      // + IS DISTINCT FROM masks
      Sql(() => """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |n AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 31 = 0 THEN 'X' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    CASE WHEN o_orderkey % 23 = 0 THEN o_totalprice + 10.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM o WHERE o_orderkey % 19 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM o WHERE o_orderkey % 17 = 3),
        |j AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    o.o_orderkey IS NOT NULL AS in_old,
        |    n.o_orderkey IS NOT NULL AS in_new,
        |    o.o_orderstatus AS os, n.o_orderstatus AS ns,
        |    o.o_totalprice AS op, n.o_totalprice AS np
        |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey,
        |  CASE WHEN NOT in_old THEN 'added'
        |       WHEN NOT in_new THEN 'removed'
        |       WHEN (os IS DISTINCT FROM ns) OR (op IS DISTINCT FROM np)
        |         THEN 'changed'
        |       ELSE 'unchanged' END AS change_type,
        |  CASE WHEN in_old AND in_new
        |        AND ((os IS DISTINCT FROM ns) OR (op IS DISTINCT FROM np))
        |    THEN concat_ws(',',
        |      CASE WHEN os IS DISTINCT FROM ns THEN 'o_orderstatus' END,
        |      CASE WHEN op IS DISTINCT FROM np THEN 'o_totalprice' END)
        |    ELSE '' END AS changed_cols
        |FROM j ORDER BY o_orderkey""".stripMargin)),

    // S-cdcnet: changelog net-effect compaction — a synthesized two-op
    // I/U/D batch per key collapsed to the minimal equivalent op (one
    // key window, no self-join); the replay-idempotence primitive
    Gate("q_s_cdc_net", (s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      val op1 = base.select(col("k"),
        when(col("k") % 4 isin (0, 2), lit("I")).otherwise(lit("U")).as("op"),
        col("v"), lit(1L).as("ts"))
      val op2 = base.where(col("k") % 3 === 0).select(col("k"),
        when(col("k") % 5 === 0, lit("D")).otherwise(lit("U")).as("op"),
        (col("v") + 1.0).as("v"), lit(2L).as("ts"))
      graft.operators.Changelog.netEffect(op1.unionByName(op2),
          "k", "op", "ts", "ts", Seq("v"))
        .orderBy(col("k"))
    },
      // CDC net effect: identical synthesized batch + window compaction
      Sql(() => """WITH base AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
        |op1 AS (
        |  SELECT k, CASE WHEN k % 4 IN (0, 2) THEN 'I' ELSE 'U' END AS op,
        |    v, 1 AS ts FROM base),
        |op2 AS (
        |  SELECT k, CASE WHEN k % 5 = 0 THEN 'D' ELSE 'U' END AS op,
        |    v + 1.0 AS v, 2 AS ts FROM base WHERE k % 3 = 0),
        |ch AS (SELECT * FROM op1 UNION ALL SELECT * FROM op2),
        |m AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rr,
        |    first_value(op) OVER (PARTITION BY k ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fop
        |  FROM ch)
        |SELECT k, net_op, v FROM (
        |  SELECT k,
        |    CASE WHEN fop = 'I' AND op = 'D' THEN NULL
        |         WHEN fop = 'I' THEN 'I'
        |         WHEN op = 'D' THEN 'D'
        |         ELSE 'U' END AS net_op,
        |    v
        |  FROM m WHERE rr = 1)
        |WHERE net_op IS NOT NULL ORDER BY k""".stripMargin))
  )
}
