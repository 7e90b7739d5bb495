package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partitioned, bucketed and clustered writes read back, and Parquet footer scans. */
private[graft] object ParquetGates {

  /** Row count and checksums of `lineitem`, which a clustered (z-order or
    * Hilbert) write must read back unchanged. */
  private val clusteredReadbackSql =
    "SELECT COUNT(*) AS cnt, CAST(SUM(l_partkey) AS BIGINT) AS sum_part, " +
      "CAST(SUM(l_suppkey) AS BIGINT) AS sum_supp, " +
      "MIN(l_orderkey) AS min_okey, MAX(l_orderkey) AS max_okey, " +
      "CAST(SUM(l_orderkey * l_linenumber) AS BIGINT) AS checksum FROM lineitem"

  /** Output directory of the zone-map gate. The oracle reads THE SAME
    * footers, so the path is part of its contract, and it is per sf
    * directory: a concurrent or later run at another scale would otherwise
    * overwrite the footers between the query and the compare. */
  private def zonemapOut(dir: String): String =
    s"/tmp/graft_zonemap_gate/${new java.io.File(dir).getName}/out"

  /** Root of the layout-report gate's two directories, per sf directory;
    * the oracle reads the same files back. */
  private def layoutRoot(dir: String): String =
    "/tmp/graft_layout_gate_" + dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** `lineitem`'s key columns re-laid by `layout`, written, read back
    * and reduced to the aggregates [[clusteredReadbackSql]] predicts. */
  private def clusteredReadback(s: SparkSession, dir: String, prefix: String)(
      layout: DataFrame => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString + "/out"
    layout(t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
      .write.mode("overwrite").parquet(tmp)
    s.read.parquet(tmp)
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_partkey")).as("sum_part"), sum(col("l_suppkey")).as("sum_supp"),
        min(col("l_orderkey")).as("min_okey"), max(col("l_orderkey")).as("max_okey"),
        sum(col("l_orderkey") * col("l_linenumber")).as("checksum"))
  }

  val gates: Seq[Gate] = Seq(
    // O24 writePartitionedBy: range-partitioned, sorted-file write + read-back
    Gate("write_partitioned_readback", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_wpb").toString + "/out"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .writePartitionedBy(Seq(col("o_orderstatus")), Seq(col("o_orderkey")))
        .format("parquet").mode("overwrite").save(tmp)
      s.read.parquet(tmp).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
    },
      "SELECT o_orderstatus, COUNT(*) AS cnt, " +
        "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
        "FROM orders GROUP BY o_orderstatus"),

    // small-file compaction round-trip: fragment orders into 50 tiny files,
    // compact by footer-metadata sizing, and hash-verify the data survived
    // the move exactly (the file-count pin lives in sbt via parquetMetadata)
    Gate("compact_readback", (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_cp").toString
      val frag = base + "/frag"
      val out = base + "/out"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(50)
        .write.mode("overwrite").parquet(frag)
      graft.write.Compaction.compactParquet(s, frag, out,
        targetFileBytes = 512L * 1024 * 1024)
      s.read.parquet(out)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast(DecimalType(18, 2)).cast("double").as("o_totalprice"))
    },
      // compaction only moves rows: the oracle is the source table itself
      "SELECT o_orderkey, o_custkey, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice " +
        "FROM orders"),

    // JSONL sink/source round-trip: the dominant web-corpus interchange
    // format. Write documents as line-delimited JSON, read back with an
    // EXPLICIT schema (inference would re-scan the data — never at 100 TB),
    // compare against the source table — pins JSON string escaping and
    // unicode fidelity through the whole sink+source path.
    Gate("jsonl_readback", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_jl").toString + "/out"
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      docs.write.mode("overwrite").json(tmp)
      s.read.schema(docs.schema).json(tmp)
    },
      // jsonl round-trip: the data must survive the sink+source byte-exactly
      "SELECT doc_id, text, lang, source FROM documents"),

    // z-order layout round-trip: re-layout lineitem along the Morton curve
    // of (l_partkey, l_suppkey) — per-file min/max narrowing asserted in
    // sbt; the gate checks the data survives the re-layout exactly
    Gate("zorder_write_readback", (s, dir) => clusteredReadback(s, dir, "graft_zw")(
      graft.write.ZOrder.zorderBy(_, Seq("l_partkey", "l_suppkey"), partitions = 8)),
      clusteredReadbackSql),

    // Hilbert-curve layout (the locality-tightened z-order sibling): same
    // content-preservation contract as zorder_write_readback; the curve
    // properties themselves (bijectivity, unit-step adjacency) are
    // theorem-tested in HilbertSuite
    Gate("hilbert_write_readback", (s, dir) => clusteredReadback(s, dir, "graft_hw")(
      graft.write.Hilbert.hilbertOrderBy(_, Seq("l_partkey", "l_suppkey"), partitions = 8)),
      // layout permutes rows, never content: the same full-table aggregates
      clusteredReadbackSql),

    // export manifest: write-then-certify — the manifest is computed from
    // the files that actually landed, verification re-aggregates the
    // CURRENT directory and full-outer-joins it. Order-insensitive XOR
    // fingerprints make producer/verifier agree under any parallelism;
    // drift classes (missing/extra/corrupt file) are pinned in ManifestSuite.
    Gate("manifest_verify", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_mf").toString + "/out"
      graft.write.Manifest.writeWithManifest(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")),
        tmp)
      graft.write.Manifest.verifySummary(s, tmp)
        .select(col("total_rows"), col("all_ok"))
    },
      // a clean snapshot must verify whole: row total from the table, ok
      // by construction
      "SELECT COUNT(*) AS total_rows, TRUE AS all_ok FROM orders"),

    // Bloom sidecar index (equality-predicate file skipping, the zone-map
    // companion): write range-clustered, build per-file blooms in one
    // grouped-aggregate scan, then answer an IN-list by scanning ONLY the
    // surviving files + re-filtering. No false negatives by construction,
    // so the result must equal the plain filtered read — which is what the
    // oracle computes. Skip counts and FP behavior pinned in BloomIndexSuite.
    Gate("bloom_skip_readback", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bl").toString + "/out"
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .repartitionByRange(8, col("l_orderkey"))
        .write.mode("overwrite").parquet(tmp)
      graft.parquet.BloomIndex.writeBloomIndex(s, tmp, "l_orderkey", logBits = 18, k = 5)
      graft.parquet.BloomIndex.prunedParquet(s, tmp, "l_orderkey",
        Seq(1L, 7L, 325L, 1000L))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    },
      // the index prunes, the filter answers: the pruned scan must equal
      // the plain IN-list read
      "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM lineitem " +
        "WHERE l_orderkey IN (1, 7, 325, 1000)"),

    // zone-map pruning report over a freshly written sorted layout: the
    // oracle reads THE SAME FOOTERS via DuckDB's parquet_metadata at a fixed
    // path, so the per-row-group skip decisions must agree bit-for-bit no
    // matter where the writer placed group boundaries
    Gate("zonemap_prune", (s, dir) => {
      val out = zonemapOut(dir)
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        .repartition(1).sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .option("parquet.block.size", "65536")
        .parquet(out)
      graft.parquet.ZoneMap.pruningReport(s, Seq(out), "l_orderkey", 500.0, 2000.0)
        .select(col("block"), col("n_values"), col("skippable"))
    },
      // same footers, independent reader: group boundaries are wherever the
      // writer put them — both sides just read them back
      dir => "SELECT CAST(row_group_id + 1 AS BIGINT) AS block, num_values AS n_values, " +
        "COALESCE(CAST(stats_max_value AS DOUBLE) < 500.0 OR CAST(stats_min_value AS DOUBLE) > 2000.0, FALSE) AS skippable " +
        s"FROM parquet_metadata('${zonemapOut(dir)}/*.parquet') " +
        "WHERE path_in_schema = 'l_orderkey'"),

    // bucketed-table co-location end-to-end: write both sides bucketed on the
    // join key (shuffle paid once at write), then join them back with zero
    // Exchange (sbt pins the plan shape; the gate checks the data round-trip)
    Gate("write_bucketed_readback", (s, dir) => {
      import graft.write.BucketedWrite
      // a managed table's directory can outlive the (in-memory) catalog entry
      // across JVM runs; clear both so saveAsTable always starts clean
      def freshTable(name: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), name)
        val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(wh)) fs.delete(wh, true)
      }
      freshTable("graft_bkt_orders")
      freshTable("graft_bkt_lineitem")
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      BucketedWrite.writeBucketedBy(orders, 8, Seq(col("o_orderkey")))
        .mode("overwrite").format("parquet").saveAsTable("graft_bkt_orders")
      BucketedWrite.writeBucketedBy(li, 8, Seq(col("l_orderkey")))
        .mode("overwrite").format("parquet").saveAsTable("graft_bkt_lineitem")
      s.table("graft_bkt_orders").hint("merge")
        .join(s.table("graft_bkt_lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    },
      "SELECT o.o_orderstatus, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "GROUP BY o.o_orderstatus"),

    // O27 parquet row-group scan (oracle: DuckDB parquet_metadata())
    Gate("parquet_blocks", (s, dir) =>
      graft.parquet.ParquetMeta.parquetBlocks(s, None, Seq(s"$dir/lineitem.parquet"))
        .select(col("block"), col("rows"), col("columns").cast("long").as("columns"),
          col("compressedBytes"), col("uncompressedBytes"), col("values"), col("nulls")),
      // DuckDB has no table-level footer introspection, so the oracle reads
      // the sf directory's lineitem file directly
      dir => "SELECT CAST(row_group_id + 1 AS BIGINT) AS block, row_group_num_rows AS rows, " +
        "row_group_num_columns AS columns, " +
        "CAST(SUM(total_compressed_size) AS BIGINT) AS \"compressedBytes\", " +
        "CAST(SUM(total_uncompressed_size) AS BIGINT) AS \"uncompressedBytes\", " +
        "CAST(SUM(num_values) AS BIGINT) AS \"values\", " +
        "CAST(SUM(stats_null_count) AS BIGINT) AS nulls " +
        s"FROM parquet_metadata('$dir/lineitem.parquet') " +
        "GROUP BY row_group_id, row_group_num_rows, row_group_num_columns"),

    // O28 per-(block, column) facts vs DuckDB parquet_metadata()
    Gate("parquet_block_columns", (s, dir) =>
      graft.parquet.ParquetMeta.parquetBlockColumns(s, None, Seq(s"$dir/lineitem.parquet"))
        .select(col("block"), col("column"), col("values"),
          col("compressedBytes"), col("uncompressedBytes"), col("nulls")),
      dir => "SELECT CAST(row_group_id + 1 AS BIGINT) AS block, path_in_schema AS \"column\", " +
        "CAST(num_values AS BIGINT) AS \"values\", " +
        "CAST(total_compressed_size AS BIGINT) AS \"compressedBytes\", " +
        "CAST(total_uncompressed_size AS BIGINT) AS \"uncompressedBytes\", " +
        "CAST(stats_null_count AS BIGINT) AS nulls " +
        s"FROM parquet_metadata('$dir/lineitem.parquet')"),

    // P91b transparent Bloom-sidecar data skipping (the Rule[LogicalPlan]
    // tier): a PLAIN equality/IN filter against an indexed directory scans
    // only surviving files — the pruning is require-asserted in-plan, the
    // oracle checks the unchanged RESULTS (false positives cost IO only,
    // the guard filter answers)
    Gate("bloom_skip_rule", (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_bloomrule").toString + "/d"
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .repartitionByRange(16, col("l_orderkey"))
        .write.mode("overwrite").parquet(root)
      graft.parquet.BloomIndex.writeBloomIndex(s, root, "l_orderkey",
        logBits = 18, k = 5)
      val before = s.experimental.extraOptimizations
      s.experimental.extraOptimizations = before :+ graft.plans.BloomSkipRule
      s.conf.set("spark.graft.bloomSkip.enabled", "true")
      try {
        val q = s.read.parquet(root).filter(col("l_orderkey").isin(325L, 48000L))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.inputFiles.length
              case _ => 0
            }
        }.sum
        require(scanned > 0 && scanned < 16,
          s"bloom skip rule did not prune: $scanned of 16 files scanned")
        // materialize under the rule, so the gate result IS the pruned read
        val rows = q.collect()
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), q.schema)
      } finally {
        s.conf.unset("spark.graft.bloomSkip.enabled")
        s.experimental.extraOptimizations = before
      }
    },
      "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem " +
        "WHERE l_orderkey IN (325, 48000)"),

    // P79b transparent zone-map skipping for RANGE predicates (footer
    // stats, no sidecar, no staleness question — opt-in conf): pruning
    // require-asserted in-plan, oracle checks the unchanged results
    Gate("zone_skip_rule", (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_zonerule").toString + "/d"
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .repartitionByRange(16, col("l_orderkey"))
        .write.mode("overwrite").parquet(root)
      // SF-relative range so the gate holds at every scale Verify, Bench or
      // the sf0.001 smoke suite runs it at: [mx/3, mx/3 + max(1, mx/20))
      val mx = t(s, dir, "lineitem").agg(max(col("l_orderkey"))).head().getLong(0)
      val lo = mx / 3
      val hi = lo + math.max(1L, mx / 20)
      val before = s.experimental.extraOptimizations
      s.experimental.extraOptimizations = before :+ graft.plans.ZoneSkipRule
      s.conf.set("spark.graft.zoneSkip.enabled", "true")
      try {
        val q = s.read.parquet(root)
          .filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
        val scanned = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.inputFiles.length
              case _ => 0
            }
        }.sum
        require(scanned > 0 && scanned < 16,
          s"zone skip rule did not prune: $scanned of 16 files scanned")
        val rows = q.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
      } finally {
        s.conf.unset("spark.graft.zoneSkip.enabled")
        s.experimental.extraOptimizations = before
      }
    },
      "WITH p AS (SELECT MAX(l_orderkey) AS mx FROM lineitem) " +
        "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem, p " +
        "WHERE l_orderkey >= mx // 3 " +
        "AND l_orderkey < mx // 3 + GREATEST(1, mx // 20)"),

    // O25 parquet footer facts (oracle: DuckDB parquet_file_metadata())
    Gate("parquet_metadata_scan", (s, dir) =>
      graft.parquet.ParquetMeta.parquetMetadata(s, None, Seq(s"$dir/lineitem.parquet"))
        .select(col("blocks").cast("long").as("blocks"), col("rows"),
          col("createdBy"), col("encryption")),
      dir => "SELECT CAST(num_row_groups AS BIGINT) AS blocks, num_rows AS rows, " +
        "created_by AS \"createdBy\", 'UNENCRYPTED' AS encryption " +
        s"FROM parquet_file_metadata('$dir/lineitem.parquet')"),

    // P130 layout health report: footer-only small-files audit over one
    // deliberately fragmented directory (24 tiny files) and one compact
    // directory, both written fresh at a fixed path the DuckDB oracle
    // reads back directly — the report and the oracle see the exact same
    // physical files, so every byte count is self-consistent.
    Gate("layout_report", (s, dir) => {
      val root = layoutRoot(dir)
      t(s, dir, "documents").repartition(24)
        .write.mode("overwrite").parquet(s"$root/frag")
      t(s, dir, "nation").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/one")
      graft.write.Compaction.layoutReport(
        s, Seq(s"$root/frag", s"$root/one"), targetFileBytes = 262144)
    }, dir => {
      val root = layoutRoot(dir)
      s"WITH pf AS (" +
        s"SELECT '$root/frag' AS dir, file_name, num_rows, num_row_groups " +
        s"FROM parquet_file_metadata('$root/frag/*.parquet') " +
        s"UNION ALL SELECT '$root/one', file_name, num_rows, num_row_groups " +
        s"FROM parquet_file_metadata('$root/one/*.parquet')), " +
        "pc AS (SELECT file_name, SUM(total_compressed_size) AS cb FROM (" +
        s"SELECT file_name, total_compressed_size FROM parquet_metadata('$root/frag/*.parquet') " +
        s"UNION ALL SELECT file_name, total_compressed_size FROM parquet_metadata('$root/one/*.parquet')" +
        ") GROUP BY 1), " +
        "j AS (SELECT dir, pf.file_name, num_rows, num_row_groups, cb " +
        "FROM pf JOIN pc USING (file_name)) " +
        "SELECT dir, COUNT(*) AS files, CAST(SUM(num_row_groups) AS BIGINT) AS blocks, " +
        "CAST(SUM(num_rows) AS BIGINT) AS rows, CAST(SUM(cb) AS BIGINT) AS compressed_bytes, " +
        "COUNT(CASE WHEN cb < 131072 THEN 1 END) AS small_files, " +
        "CAST(GREATEST(1, (SUM(cb) + 262143) // 262144) AS BIGINT) AS target_files, " +
        "(COUNT(*) > GREATEST(1, (SUM(cb) + 262143) // 262144) AND " +
        "2 * COUNT(CASE WHEN cb < 131072 THEN 1 END) > COUNT(*)) AS compaction_recommended " +
        "FROM j GROUP BY dir"
    }),

    // O26 parquet schema scan (oracle: DuckDB parquet_schema() leaf rows)
    Gate("parquet_schema_scan", (s, dir) =>
      graft.parquet.ParquetMeta.parquetSchema(s, None, Seq(s"$dir/lineitem.parquet"))
        .select(col("columnName"), col("type"), col("repetition")),
      // DuckDB labels the physical type BYTE_ARRAY where parquet-java says BINARY
      dir => "SELECT name AS \"columnName\", " +
        "CASE WHEN type = 'BYTE_ARRAY' THEN 'BINARY' ELSE type END AS type, " +
        "repetition_type AS repetition " +
        s"FROM parquet_schema('$dir/lineitem.parquet') " +
        "WHERE num_children IS NULL"),

    // O29 Spark split planning, pinned into oracle reach: with
    // maxPartitionBytes = openCostInBytes = 1 MiB, maxSplitBytes is exactly
    // 1 MiB (openCost dominates bytesPerCore) and bin-packing closes every
    // partition after one split, so partition index == floor(splitStart/1MiB)
    // and a row group lands in partition floor((startingPos + compressed/2)
    // / 1MiB) — arithmetic DuckDB reproduces from parquet_metadata().
    // plannedSplits materializes eagerly inside parquetPartitions, so the
    // conf save/restore cannot leak into later queries. Partitions without
    // any row-group midpoint are filtered: the oracle cannot know the file
    // tail length.
    Gate("parquet_partitions_scan", (s, dir) => {
      val mib = (1L << 20).toString
      val prevMax = s.conf.get("spark.sql.files.maxPartitionBytes")
      val prevOpen = s.conf.get("spark.sql.files.openCostInBytes")
      s.conf.set("spark.sql.files.maxPartitionBytes", mib)
      s.conf.set("spark.sql.files.openCostInBytes", mib)
      try {
        graft.parquet.ParquetMeta.parquetPartitions(s, None, Seq(s"$dir/lineitem.parquet"))
          .filter(col("blocks") >= 1)
          .select(
            col("partition").cast("long").as("partition"),
            col("blocks").cast("long").as("blocks"),
            col("compressedBytes"), col("uncompressedBytes"), col("rows"))
      } finally {
        s.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        s.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      }
    },
      // Split planning pinned to 1 MiB splits (see the query): a row group
      // belongs to partition floor((startingPos + compressedSize/2) / 1MiB);
      // startingPos = first column chunk's dictionary-or-data page offset.
      dir => "WITH rg AS (SELECT row_group_id, " +
        "MIN(CASE WHEN column_id = 0 THEN " +
        "CASE WHEN dictionary_page_offset IS NOT NULL AND dictionary_page_offset > 0 " +
        "THEN dictionary_page_offset ELSE data_page_offset END END) AS start_pos, " +
        "SUM(total_compressed_size) AS comp, " +
        "SUM(total_uncompressed_size) AS uncomp, " +
        "MIN(row_group_num_rows) AS nrows " +
        s"FROM parquet_metadata('$dir/lineitem.parquet') " +
        "GROUP BY row_group_id) " +
        "SELECT CAST((start_pos + comp // 2) // 1048576 AS BIGINT) AS partition, " +
        "CAST(COUNT(*) AS BIGINT) AS blocks, " +
        "CAST(SUM(comp) AS BIGINT) AS \"compressedBytes\", " +
        "CAST(SUM(uncomp) AS BIGINT) AS \"uncompressedBytes\", " +
        "CAST(SUM(nrows) AS BIGINT) AS rows " +
        "FROM rg GROUP BY 1"),
  )
}
