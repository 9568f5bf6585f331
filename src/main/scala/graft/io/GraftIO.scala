package graft.io

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** IO surface (SURVEY §2.1, reference `lib/io/`). Spark's sources already
  * provide what the reference hand-builds — file/row-group partitioning,
  * footer metadata, column projection, byte-chunk line splitting — so these
  * are thin, defaulted wrappers plus the one genuinely missing piece: the
  * per-file read *report* stream (`from_parquet(report=True)`,
  * reference `lib/io/parquet.py:36-61`).
  */
/** Serializable carrier for the driver's Hadoop Configuration (Hadoop's
  * Configuration itself is not java-serializable): executor-side footer
  * reads in [[GraftIO.writeManifest]] must see every spark.hadoop.*
  * setting — object-store credentials, endpoints, custom FileSystem
  * implementations — not default resources. */
private[io] class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

object GraftIO {

  /** `from_parquet` (reference `parquet.py:251-427`): columns pushdown via
    * `select`, row-group splitting via maxPartitionBytes — both native. */
  def fromParquet(spark: SparkSession, path: String,
      columns: Seq[String] = Nil): DataFrame = {
    val df = spark.read.parquet(path)
    if (columns.isEmpty) df else df.select(columns.map(col): _*)
  }

  /** The reference's `project_columns` (reference `parquet.py:179-190`) for
    * nested leaves: read with an explicitly pruned schema so the parquet
    * reader materializes only the named leaf columns.
    *
    * Catalyst's SchemaPruning does not look through higher-order-function
    * lambdas on its own; the graft.plans.TransformFieldPruning and
    * LambdaFieldPruning optimizer rules close that gap for field-access
    * lambdas (transform/aggregate/exists/forall), so under
    * GraftExtensions the explicit schema is rarely needed. This explicit
    * form remains the manual override for sessions without the
    * extensions, for HOFs whose output IS the element struct (filter,
    * sort — not prunable by rewrite), and for deeper-than-first-level
    * leaf selection. Paths use dots, list levels are transparent:
    * "items.quantity". */
  def fromParquetProjected(spark: SparkSession, path: String,
      leaves: Seq[String]): DataFrame = {
    val full = spark.read.parquet(path).schema
    spark.read.schema(pruneLeaves(full, leaves)).parquet(path)
  }

  /** Prune `full` down to the requested dot-path leaves (list levels are
    * transparent) — the shared projection kernel behind
    * [[fromParquetProjected]] and [[fromJsonProjected]]. */
  private[io] def pruneLeaves(full: StructType,
      leaves: Seq[String]): StructType = {
    def prune(st: StructType, paths: Seq[Seq[String]]): StructType =
      StructType(st.fields.flatMap { f =>
        val sub = paths.filter(_.head == f.name)
        if (sub.isEmpty) None
        else {
          val rest = sub.map(_.tail).filter(_.nonEmpty)
          val dt = pruneType(f.dataType, rest)
          Some(f.copy(dataType = dt))
        }
      })
    def pruneType(dt: org.apache.spark.sql.types.DataType,
        rest: Seq[Seq[String]]): org.apache.spark.sql.types.DataType = dt match {
      case s: StructType if rest.nonEmpty => prune(s, rest)
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = pruneType(a.elementType, rest))
      case other => other
    }
    prune(full, leaves.map(_.split('.').toSeq))
  }

  /** JSON leaf projection — the `from_json` face of the necessary-columns
    * optimizer (the reference pins this on JSON explicitly,
    * tests/test_io_json.py:106-140 test_json_column_projection1/2). For
    * JSON the read SCHEMA is the projection mechanism: Spark's parser
    * token-skips every field absent from it, so an untouched sibling is
    * never tokenized, allocated, or carried — the textual bytes are still
    * read once (no columnar footer to skip with), which is exactly the
    * reference's JSON posture too. Nested dot-paths prune INSIDE records:
    * "meta.lang" reads one leaf of the struct and drops its siblings from
    * the scan's requiredSchema. */
  def fromJsonProjected(spark: SparkSession, path: String,
      leaves: Seq[String], fullSchema: Option[StructType] = None,
      lineDelimited: Boolean = true): DataFrame = {
    val full = fullSchema.getOrElse(
      fromJson(spark, path, None, 1.0, lineDelimited).schema)
    fromJson(spark, path, Some(pruneLeaves(full, leaves)), 1.0, lineDelimited)
  }

  /** `to_parquet` (reference `parquet.py:515-726`): one file per partition
    * is Spark's native layout; zstd matches the reference default. */
  def toParquet(df: DataFrame, dest: String,
      compression: String = "zstd"): Unit =
    df.write.mode("overwrite").option("compression", compression).parquet(dest)

  /** The `to_parquet(write_metadata_file=True)` analog (reference
    * `parquet.py:584-640` aggregates per-partition footer metadata into a
    * `_metadata` sidecar through a dedicated reduction layer). Spark's
    * commit protocol has no sidecar concept, so the Spark-first analog is
    * an explicit manifest: after the write, every data file's footer is
    * read ON THE EXECUTORS (one task per file slice — the same footer
    * scan the reference pays in its metadata collectors, parallelized)
    * and aggregated to one row per file — row count, byte size, and
    * per-leaf-column (null count, min, max) from the parquet statistics,
    * merged across row groups. The manifest lands as a single JSON
    * sidecar `_graft_metadata.json` next to the data (driver writes it;
    * the manifest is bounded by contract at one row per file) and is
    * returned as a DataFrame. Readers get it back via
    * [[fromParquetManifest]] — file skipping by min/max without touching
    * a single footer at plan time. */
  def toParquetWithMetadata(df: DataFrame, dest: String,
      compression: String = "zstd"): DataFrame = {
    toParquet(df, dest, compression)
    writeManifest(df.sparkSession, dest)
  }

  /** Build + write the `_graft_metadata.json` sidecar for an existing
    * parquet directory. Distributed footer read; driver only sees the
    * per-file summary rows. */
  def writeManifest(spark: SparkSession, dest: String): DataFrame = {
    val (fs, p, files) = walkDataFiles(spark, dest)
    val manifest = scanManifestRows(spark, files)
    writeSidecarJson(fs, p, manifest)
    manifest
  }

  /** Incremental manifest maintenance — the append-only ingest case: a
    * directory that gains files daily must not re-read every old footer
    * to refresh its sidecar. Scans footers ONLY for files absent from
    * the existing manifest, drops manifest rows whose files vanished
    * (compaction), and rewrites the sidecar. Cost is proportional to
    * the DELTA, not the directory. Differential-pinned in ModulesSpec:
    * incremental == a from-scratch [[writeManifest]], byte-equal rows. */
  def writeManifestIncremental(spark: SparkSession, dest: String): DataFrame = {
    import spark.implicits._
    val (fs, p, files) = walkDataFiles(spark, dest)
    val sidecar = new org.apache.hadoop.fs.Path(p, "_graft_metadata.json")
    if (!fs.exists(sidecar)) return writeManifest(spark, dest)
    val existing = fromParquetManifest(spark, dest)
    val known = existing.select(col("file")).collect()
      .map(_.getString(0)).toSet // bounded: one row per data file
    val fresh = files.filterNot(f => known(f._2))
    val kept = existing.join(
      broadcast(files.map(_._2).toDF("file")), "file")
    val merged = kept.unionByName(scanManifestRows(spark, fresh))
    writeSidecarJson(fs, p, merged)
    merged
  }

  private def walkDataFiles(spark: SparkSession, dest: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path,
         Seq[(String, String, Long)]) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dest)
    val fs = p.getFileSystem(hconf)
    // recursive: partitionBy layouts nest part- files under key=value
    // dirs; manifest rows carry dest-RELATIVE paths so the sidecar works
    // for flat and partitioned layouts alike
    val baseUri = fs.makeQualified(p).toUri
    def walk(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.startsWith("part-")) Seq(s)
        else Nil
      }
    val files = walk(p).map { s =>
      val rel = baseUri.relativize(fs.makeQualified(s.getPath).toUri).getPath
      (fs.makeQualified(s.getPath).toString, rel, s.getLen)
    }
    (fs, p, files)
  }

  private def writeSidecarJson(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, manifest: DataFrame): Unit = {
    // NDJSON: one manifest row per line — a single sidecar file that
    // symmetric line-based readers (including spark.read.json) parse
    val json = manifest.toJSON.collect().mkString("\n")
    val out = new org.apache.hadoop.fs.Path(p, "_graft_metadata.json")
    val os = fs.create(out, true)
    try os.write(json.getBytes("UTF-8")) finally os.close()
  }

  private def scanManifestRows(spark: SparkSession,
      files: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    // ship the DRIVER's hadoop configuration to the executor tasks: a
    // fresh Configuration() there would carry default resources only,
    // dropping every spark.hadoop.* setting (object-store credentials,
    // endpoints, custom FileSystem impls) — the footer read must go
    // through the same filesystem the scan would use
    val confSer = new SerializableHadoopConf(hconf)
    val rows = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 32)))
      .map { case (path, rel, len) =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(path), confSer.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = r.getFooter.getBlocks
          var nRows = 0L
          // per-column (nulls, min, max) merged across row groups; the
          // mins/maxes of one column path always share a concrete type,
          // so the Comparable merge is safe. Two recording gates:
          // - null counts only while every row group has isNumNullsSet
          //   (getNumNulls returns -1 when unknown — summing that in
          //   would poison the total; unknown propagates as null)
          // - min/max only for types whose Comparable order matches the
          //   logical order: numeric/boolean primitives and UTF8-
          //   annotated binary (Binary.compareTo is unsigned
          //   lexicographic — correct for UTF8 strings, WRONG for
          //   signed-ordered binary-backed logicals like FLBA decimals,
          //   which record no range and are conservatively kept by
          //   fromParquetSkipping)
          val stats = scala.collection.mutable.LinkedHashMap
            .empty[String, (java.lang.Long, Any, Any)]
          blocks.forEach { b =>
            nRows += b.getRowCount
            b.getColumns.forEach { c =>
              val key = c.getPath.toDotString
              val s = c.getStatistics
              if (s != null) {
                val pt = c.getPrimitiveType
                import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
                val ordered = pt.getPrimitiveTypeName match {
                  case BINARY | FIXED_LEN_BYTE_ARRAY =>
                    pt.getLogicalTypeAnnotation.isInstanceOf[
                      org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
                  case INT96 => false
                  case _ => true
                }
                val (n0, mn0, mx0) = stats.getOrElse(key, (0L: java.lang.Long, null, null))
                var mn = mn0; var mx = mx0
                if (ordered && s.hasNonNullValue) {
                  val smin: Any = s.genericGetMin
                  val smax: Any = s.genericGetMax
                  if (mn == null ||
                      smin.asInstanceOf[Comparable[Any]].compareTo(mn) < 0)
                    mn = smin
                  if (mx == null ||
                      smax.asInstanceOf[Comparable[Any]].compareTo(mx) > 0)
                    mx = smax
                }
                val n: java.lang.Long =
                  if (n0 == null || !s.isNumNullsSet) null
                  else java.lang.Long.valueOf(n0 + s.getNumNulls)
                stats(key) = (n, mn, mx)
              }
            }
          }
          def fmt(v: Any): String = v match {
            case null => null
            case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
            case other => String.valueOf(other)
          }
          val colStats = stats.map { case (k, (n, mn, mx)) =>
            k -> (n, fmt(mn), fmt(mx))
          }.toMap
          (rel, nRows, len, colStats)
        } finally r.close()
      }
      .collect() // bounded by contract: one row per data file
    rows.toSeq
      .toDF("file", "n_rows", "n_bytes", "col_stats")
      .select(col("file"), col("n_rows"), col("n_bytes"),
        col("col_stats").cast(
          "map<string,struct<nulls:bigint,min:string,max:string>>"))
  }

  /** Manifest-driven file skipping: read only the data files whose
    * [min, max] range for `column` (from the sidecar) intersects
    * [lo, hi]. The skipping decision costs one sidecar read — zero
    * parquet footers touched at plan time; files with no recorded stats
    * for the column are conservatively kept. `cast` must name the
    * column's Spark type (stats travel as strings in the sidecar); the
    * comparison happens post-cast, so numeric ranges compare numerically.
    * The caller still applies the row-level filter — skipping is a
    * superset guarantee, exactly like parquet's own row-group pruning
    * one level up. */
  def fromParquetSkipping(spark: SparkSession, dest: String, column: String,
      lo: Any, hi: Any, cast: String): DataFrame =
    fromParquetSkippingMulti(spark, dest, Seq((column, lo, hi, cast)))

  /** Multi-predicate manifest skipping: keep only the files whose
    * recorded [min, max] intersects EVERY (column, lo, hi) range — the
    * conjunctive-filter case, where each extra predicate prunes further.
    * This is what a Z-ordered layout ([[writeZOrdered]]) is FOR: the
    * curve gives every z-column locality, so a 2-D range predicate
    * skips on both dimensions at once where a single-column sort could
    * only serve one. Per-column conservative-keep semantics are those
    * of [[fromParquetSkipping]] (missing stats or un-castable stat
    * strings keep the file). */
  def fromParquetSkippingMulti(spark: SparkSession, dest: String,
      preds: Seq[(String, Any, Any, String)]): DataFrame = {
    require(preds.nonEmpty, "at least one (column, lo, hi, cast) predicate")
    val keep = fromParquetManifest(spark, dest)
      .filter(manifestKeepCond(preds))
      .select(col("file")).collect().map(_.getString(0))
    if (keep.isEmpty)
      spark.read.parquet(dest).limit(0) // schema-preserving empty
    else
      // basePath keeps partition columns alive when the manifest's
      // relative paths point into a partitionBy layout
      spark.read.option("basePath", dest)
        .parquet(keep.map(f => s"$dest/$f").toSeq: _*)
  }

  /** Keyed upsert (MERGE) into a plain-parquet directory with FILE-SCOPED
    * rewrite — the lakehouse merge primitive without a table format:
    * rows in `updates` replace same-key rows, new keys append. The
    * manifest sidecar turns the merge from a full rewrite into a
    * delta-proportional one: only files whose recorded [min, max] key
    * range can contain an update key are read and rewritten; every
    * other file — at 100 TB, almost all of them — is untouched on disk.
    * Files with no usable key stats are conservatively rewritten.
    * Without a sidecar every file counts as affected (correct, full
    * rewrite). The sidecar is incrementally refreshed afterwards
    * ([[writeManifestIncremental]] — footer scans only for the new
    * files).
    *
    * Contracts: `updates` must be key-unique; FLAT layouts only (a
    * partitionBy tree would need the rewrite routed through partitionBy
    * again); single-writer (plain parquet has no transaction log — new
    * files land before old ones are deleted, so a concurrent reader can
    * transiently see both versions of an updated key; a table format is
    * the multi-writer answer and out of scope). Returns
    * (rewrittenFiles, totalFiles). */
  def upsertParquet(spark: SparkSession, dest: String, updates: DataFrame,
      keyCol: String, keyCast: String = "bigint"): (Int, Int) = {
    val (fs, p, files) = walkDataFiles(spark, dest)
    val sidecar = new org.apache.hadoop.fs.Path(p, "_graft_metadata.json")
    val hasManifest = fs.exists(sidecar)
    val affected: Seq[String] =
      if (!hasManifest) files.map(_._2)
      else {
        val stats = element_at(col("col_stats"), keyCol)
        val ranges = fromParquetManifest(spark, dest).select(col("file"),
          stats.getField("min").try_cast(keyCast).as("mn"),
          stats.getField("max").try_cast(keyCast).as("mx"))
        val keys = updates.select(col(keyCol).cast(keyCast).as("k")).distinct()
        ranges.join(keys,
            col("mn").isNull || col("mx").isNull ||
              col("k").between(col("mn"), col("mx")), "left_semi")
          .select(col("file")).collect().map(_.getString(0)).toSeq
          // bounded: one row per data file
      }
    val survivors =
      if (affected.isEmpty) updates.limit(0)
      else {
        val old = spark.read.option("basePath", dest)
          .parquet(affected.map(f => s"$dest/$f"): _*)
        old.join(updates.select(col(keyCol)).distinct(), Seq(keyCol),
          "left_anti")
      }
    // new files first, then drop the rewritten ones (transient-duplicate
    // window documented above); append never reuses part- names
    survivors.unionByName(updates).write.mode("append").parquet(dest)
    affected.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(p, f), false))
    if (hasManifest) writeManifestIncremental(spark, dest): Unit
    (affected.size, files.size)
  }

  /** Per-file Bloom-filter sidecar (`_graft_blooms.json`) — the point-
    * equality complement of the min/max manifest: on a HASH-distributed
    * (unsorted) layout, every file's [min, max] spans the full domain and
    * range skipping prunes nothing, but a per-file Bloom over the column
    * answers "could this value be in this file" in one sidecar read.
    * This is the manifest analog of parquet's own column bloom filters,
    * lifted to FILE granularity so planning never opens a footer.
    *
    * Build cost is one scan of the data at write time (same cost class
    * as [[writeZOrdered]]); the scan is one distributed pass — per
    * (file, column), k=`k` positions per value are deduped and packed
    * into a `bits`-wide bitset. Driver materialization is bounded by
    * contract: one row per (file, column) with at most `bits` set
    * positions (8 KiB per row at the default 65536 bits).
    *
    * Hash contract: positions are `pmod(xxhash64(seed, value), bits)`
    * computed by the ENGINE's own xxhash64 expression — the probe side
    * ([[fromParquetSkippingEq]]) evaluates the same expression on a
    * literal, so build and probe can never disagree on typing or hash
    * variant. */
  def writeBloomSidecar(spark: SparkSession, dest: String, cols: Seq[String],
      bits: Int = 65536, k: Int = 4): Unit = {
    require(cols.nonEmpty, "at least one column")
    require(bits > 0 && (bits & (bits - 1)) == 0, "bits must be a power of two")
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dest)
    val fs = p.getFileSystem(hconf)
    val baseUri = fs.makeQualified(p).toUri
    def walk(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
      fs.listStatus(d).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.startsWith("part-")) Seq(s.getPath)
        else Nil
      }
    // URI path-part -> dest-relative name (same relative convention as
    // writeManifest; input_file_name() URIs normalize through Path)
    val relByPath = walk(p).map { f =>
      val q = fs.makeQualified(f)
      q.toUri.getPath -> baseUri.relativize(q.toUri).getPath
    }.toMap
    val df = spark.read.parquet(dest)
    val perCol = cols.map { c =>
      df.filter(col(c).isNotNull)
        .select(input_file_name().as("f"), lit(c).as("c"),
          explode(array((0 until k).map(s =>
            pmod(xxhash64(lit(s), col(c)), lit(bits.toLong))): _*)).as("pos"))
    }
    // ONE shuffle: collect_set dedupes map-side (partial sets are bounded
    // by `bits` entries), vs a distinct() pre-pass which would shuffle
    // every (file, col, pos) row once more
    val rows = perCol.reduce(_ unionAll _)
      .groupBy(col("f"), col("c")).agg(collect_set(col("pos")).as("ps"))
      .collect() // bounded: one row per (file, column), <= bits positions
    val enc = java.util.Base64.getEncoder
    val json = rows.map { r =>
      val rel = relByPath.getOrElse(
        new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath,
        sys.error(s"bloom scan saw unknown file ${r.getString(0)}"))
      val bs = new java.util.BitSet(bits)
      r.getSeq[Long](2).foreach(pos => bs.set(pos.toInt))
      s"""{"file":"$rel","col":"${r.getString(1)}","bits":$bits,"k":$k,""" +
        s""""b64":"${enc.encodeToString(bs.toByteArray)}"}"""
    }.mkString("\n")
    val out = new org.apache.hadoop.fs.Path(p, "_graft_blooms.json")
    val os = fs.create(out, true)
    try os.write(json.getBytes("UTF-8")) finally os.close()
  }

  /** Bloom-sidecar point-equality file skipping: read only the files
    * whose Bloom for EVERY (column, value) predicate reports "maybe
    * present". Conservative-keep semantics mirror range skipping: a file
    * with no recorded bloom row for a column (e.g. all-null chunk, or a
    * column the sidecar was not built over) is kept. False positives
    * cost only an extra file read — the caller still applies the
    * row-level filter, so results are exact regardless.
    *
    * Caller contract: each `value`'s literal Spark type must equal the
    * column's type (Long for bigint, Int for int, String for string) —
    * the probe hashes `lit(value)` through the same xxhash64 expression
    * the build used on the column. */
  def fromParquetSkippingEq(spark: SparkSession, dest: String,
      eqs: Seq[(String, Any)]): DataFrame = {
    require(eqs.nonEmpty, "at least one (column, value) predicate")
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dest)
    val fs = p.getFileSystem(hconf)
    def walk(d: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(d).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.startsWith("part-")) Seq(
          fs.makeQualified(p).toUri
            .relativize(fs.makeQualified(s.getPath).toUri).getPath)
        else Nil
      }
    val allFiles = walk(p)
    // sidecar rows for the probed columns: (file, col) -> (bits, k, bitset)
    val sidecar = new org.apache.hadoop.fs.Path(p, "_graft_blooms.json")
    val dec = java.util.Base64.getDecoder
    val blooms: Map[(String, String), (Int, Int, java.util.BitSet)] =
      if (!fs.exists(sidecar)) Map.empty
      else {
        val in = fs.open(sidecar)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        txt.split("\n").iterator.filter(_.trim.nonEmpty).map { line =>
          val n = mapper.readTree(line)
          (n.get("file").asText, n.get("col").asText) ->
            ((n.get("bits").asInt, n.get("k").asInt,
              java.util.BitSet.valueOf(dec.decode(n.get("b64").asText))))
        }.toMap
      }
    // probe positions via the engine's own hash on a 1-row frame (plan-
    // time, bounded): grouped by (bits, k) geometry actually recorded
    val geoms = blooms.values.map(v => (v._1, v._2)).toSet
    val posFor: Map[(String, Any, Int, Int), Seq[Int]] =
      (for { (c, v) <- eqs; (bits, kk) <- geoms } yield {
        val row = spark.range(1).select(
          array((0 until kk).map(s =>
            pmod(xxhash64(lit(s), lit(v)), lit(bits.toLong))): _*).as("ps"))
          .head()
        (c, v, bits, kk) -> row.getSeq[Long](0).map(_.toInt).toSeq
      }).toMap
    val keep = allFiles.filter { f =>
      eqs.forall { case (c, v) =>
        blooms.get((f, c)) match {
          case None => true // conservative keep
          case Some((bits, kk, bs)) =>
            posFor((c, v, bits, kk)).forall(bs.get)
        }
      }
    }
    if (keep.isEmpty) spark.read.parquet(dest).limit(0)
    else spark.read.option("basePath", dest)
      .parquet(keep.map(f => s"$dest/$f"): _*)
  }

  /** Schema-evolution read: a directory whose parquet files were
    * written over time with DRIFTING schemas (columns added by newer
    * writers) reads as the union schema, older files null-filling the
    * columns they predate — `mergeSchema` makes Spark merge every
    * footer instead of trusting the first file. The 100 TB reality this
    * serves: a long-lived ingest directory is never rewritten when the
    * pipeline gains a field. Costs one footer read per file at plan
    * time (that is why it is not the default); column pushdown and
    * row-group pruning are unaffected. */
  def fromParquetEvolving(spark: SparkSession, dest: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dest)

  /** The manifest-row keep condition for a conjunction of (column, lo,
    * hi, castType) ranges — shared by [[fromParquetSkippingMulti]] and
    * `Inspect.estimateScan`. The conservative-keep guarantee must
    * survive bad casts: a recorded min/max string that does not cast to
    * `cast` (mistyped caller, or a stat rendered from a
    * differently-typed footer) must KEEP the file (fall back to a full
    * scan), not drop it through a NULL range conjunction — and under
    * ANSI mode (Spark 4 default) a plain cast would not even null, it
    * would throw mid-filter. try_cast gives the tolerate-and-null
    * semantics in both modes. */
  def manifestKeepCond(preds: Seq[(String, Any, Any, String)]): Column =
    if (preds.isEmpty) lit(true)
    else preds.map { case (column, lo, hi, cast) =>
      val stats = element_at(col("col_stats"), column)
      val mnS = stats.getField("min").try_cast(cast)
      val mxS = stats.getField("max").try_cast(cast)
      stats.isNull || stats.getField("min").isNull ||
        mnS.isNull || mxS.isNull ||
        (mxS >= lit(lo) && mnS <= lit(hi))
    }.reduce(_ && _)

  /** Read the `_graft_metadata.json` sidecar back as a DataFrame —
    * (file, n_rows, n_bytes, col_stats). */
  def fromParquetManifest(spark: SparkSession, dest: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(dest, "_graft_metadata.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    spark.read
      .schema("file string, n_rows bigint, n_bytes bigint, " +
        "col_stats map<string,struct<nulls:bigint,min:string,max:string>>")
      .json(json.split("\n").toSeq.filter(_.trim.nonEmpty).toDS())
  }

  private val stagedLocalDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val stageCleanupHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      stagedLocalDirs.forEach(rm(_))
    }))
  }

  /** A fresh local scratch directory registered for JVM-exit cleanup —
    * the per-invocation staging convention for query lambdas that must
    * hold a path themselves (sidecar writers, time-travel stores) rather
    * than round-trip through [[stageParquet]]. Without the registration,
    * every plan build (fingerprints, grading, plan-quality passes) leaks
    * one directory per invocation. */
  def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    stageCleanupHook
    stagedLocalDirs.add(d): Unit
    d.toString
  }

  /** Materialize `df` to parquet at a PER-INVOCATION unique staging path
    * and read it back — the inter-stage boundary for multi-phase pipelines
    * (cuts recompute of the upstream plan AND restores scan statistics,
    * which a checkpoint's ExistingRDD loses; the deduped corpus lands in
    * storage between stages at 100 TB anyway, so this is the honest
    * production shape).
    *
    * The path is `<root>/graft_stage/<applicationId>/<name>-<uuid>`: the
    * uuid makes concurrent sessions and CI forks collision-free (a fixed
    * shared path would clobber under overwrite + read-after-write races).
    * `root` is the session's checkpoint dir when one is set — shared
    * storage on a real cluster — else `java.io.tmpdir`, which is only
    * correct on a local master (documented limitation; set a checkpoint
    * dir on any multi-node deployment). tmpdir stages are best-effort
    * deleted on JVM exit.
    *
    * NOTE the write is EAGER — parquet must exist before the read-back
    * plan can resolve — so construct staging queries only to run them. */
  def stageParquet(df: DataFrame, name: String): DataFrame = {
    val spark = df.sparkSession
    val local = spark.sparkContext.getCheckpointDir.isEmpty
    val root = spark.sparkContext.getCheckpointDir
      .getOrElse(sys.props("java.io.tmpdir"))
    val path = s"${root.stripSuffix("/")}/graft_stage/" +
      s"${spark.sparkContext.applicationId}/$name-${java.util.UUID.randomUUID()}"
    df.write.mode("error").parquet(path)
    if (local) { // root is java.io.tmpdir, a plain filesystem path
      stageCleanupHook
      stagedLocalDirs.add(new java.io.File(path)): Unit
    }
    spark.read.parquet(path)
  }

  /** Bucketed managed table: co-locate rows by key at WRITE time so every
    * later join/aggregate on that key elides its exchange — shuffle once
    * on write, never again. The 100 TB fact-table layout: pick `buckets`
    * equal to the consumers' `spark.sql.shuffle.partitions` (mismatched
    * counts re-introduce the exchange), add `sortCols` to feed sort-merge
    * consumers (e.g. the native as-of join's (key, ts) ordering) without a
    * per-query sort. ModulesSpec proves a bucketed self-join plus
    * aggregate plans with zero Exchange nodes. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty && buckets > 0, "need at least one key and bucket")
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** Token-budget output layout: write the corpus as one parquet directory
    * partition per ~`budget` tokens of text, documents in `idCol` order —
    * the training-shard writer (each shard feeds one data-loader worker
    * with a near-equal token count, not a near-equal FILE count, which
    * skews badly when document lengths do). The exact analogue of the
    * reference's divisions-based `repartition(rows_per_partition=)`
    * (`core.py:979-1066`) with tokens as the unit instead of rows.
    *
    * Built on [[graft.text.packSequences]], whose prefix sum is the
    * two-level scan of [[graft.core.Partitions.runningSums]]: the
    * shard id is `start_tok / budget`, assigned in parallel at any corpus
    * size, then a single hash repartition on the shard id co-locates each
    * shard before `partitionBy` writes `shard=N/` directories. One doc
    * never splits across shards, so a shard can overflow by at most one
    * document's tokens. */
  def writeTokenSharded(df: DataFrame, idCol: String, textCol: String,
      dest: String, budget: Long, compression: String = "zstd"): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(budget > 0, s"bad budget=$budget")
    // the shard scan casts the id to long — a string id would turn every
    // join key null (or throw under ANSI) and OVERWRITE dest with an
    // empty dataset, so fail fast on non-integral ids
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"writeTokenSharded: idCol must be an integral type, got $idType")
    require(!df.columns.contains("shard"),
      "writeTokenSharded: input already has a column named 'shard' (reserved)")
    val nt = df.select(col(idCol).as("id"),
      graft.text.countTokensWs(col(textCol)).cast("long").as("nt"))
    // the join back on the id matches every shard row of a duplicated id,
    // so n copies of an id would write n*n copies of that document into
    // the OVERWRITTEN dest — fail fast with one small 2-column agg job
    // instead (same distinct-key contract as withRowIndex, here enforced
    // because a writer that silently multiplies rows destroys the
    // previous output too)
    val chk = nt.agg(count(lit(1)).as("n"),
      count_distinct(col("id")).as("nd")).head()
    require(chk.getLong(0) == chk.getLong(1),
      s"writeTokenSharded: idCol '$idCol' must be unique " +
        s"(${chk.getLong(0)} rows, ${chk.getLong(1)} distinct)")
    // reserved-name alias so an input id column literally named "id"
    // survives the join+drop
    val shards = graft.text.packSequences(nt, "id", "nt", budget)
      .select(col("id").as("__graft_sid"), col("seq_id").as("shard"))
    df.join(shards, df(idCol) === col("__graft_sid")).drop("__graft_sid")
      .repartition(col("shard"))
      .write.mode("overwrite").option("compression", compression)
      .partitionBy("shard").parquet(dest)
  }

  /** Z-order curve value for multi-dimensional data clustering: each
    * numeric column maps to a `bits`-wide bucket id over its [min, max]
    * span (driver-computed in one small agg job), and the bucket ids
    * bit-interleave into one long. Sorting by that long places rows close
    * in EVERY dimension into the same parquet files/row-groups, so min/max
    * stats prune scans for predicates on ANY z-column — the layout answer
    * to "which files can this filter skip?" at 100 TB, where a linear sort
    * only serves its leading column. Bucketing is uniform-width (one
    * pass); heavily-skewed columns should be pre-transformed (log, rank)
    * — same contract as width_bucket.
    *
    * The whole mapping is a codegen'd Column expression (shift/mask
    * terms); no UDF. `bits * cols.size` must fit in 63. */
  def zorderValue(df: DataFrame, zCols: Seq[String], bits: Int = 16): org.apache.spark.sql.Column = {
    require(zCols.nonEmpty, "need at least one z-order column")
    require(bits * zCols.size <= 63, s"$bits bits x ${zCols.size} cols overflows a long")
    val nb = 1L << bits
    val statExprs = zCols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val stats = df.agg(statExprs.head, statExprs.tail: _*).head()
    val bucketIds = zCols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (stats.getDouble(2 * i), stats.getDouble(2 * i + 1))
      val span = if (hi > lo) hi - lo else 1.0
      least(greatest(floor((col(c).cast("double") - lit(lo)) / lit(span) * nb), lit(0L)),
        lit(nb - 1)).cast("long")
    }
    // interleave: bit j of column i lands at position j*ncols + i
    val ncols = zCols.size
    (for (i <- 0 until ncols; j <- 0 until bits) yield
      shiftleft(shiftright(bucketIds(i), j).bitwiseAND(lit(1L)), j * ncols + i))
      .reduce(_.bitwiseOR(_))
  }

  /** Write `df` clustered along a Z-order curve over `zCols`:
    * range-partition by the curve value into `numFiles` output files, sort
    * within each, drop the helper column. Consumers filtering on any
    * z-column skip non-overlapping files/row-groups via parquet min/max
    * stats — no bucketing metadata needed, works for plain paths. */
  def writeZOrdered(df: DataFrame, dest: String, zCols: Seq[String],
      numFiles: Int, bits: Int = 16, compression: String = "zstd"): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    val z = "__graft_z"
    require(!df.columns.contains(z), s"input already has a column named '$z'")
    df.withColumn(z, zorderValue(df, zCols, bits))
      .repartitionByRange(numFiles, col(z))
      .sortWithinPartitions(col(z))
      .drop(z)
      .write.mode("overwrite").option("compression", compression).parquet(dest)
  }

  /** Small-files compaction: rewrite a parquet directory into
    * ~`targetFileBytes` files (computed from the on-disk input size, so
    * compressed output files land near the target). The unglamorous 100 TB
    * maintenance op: streaming/incremental writers leave thousands of tiny
    * files whose per-file open/footer cost dominates scans. Returns the
    * output file count. */
  def compactParquet(spark: SparkSession, src: String, dest: String,
      targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(src), spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(src)).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(src).repartition(n)
      .write.mode("overwrite").option("compression", "zstd").parquet(dest)
    n
  }

  // --- snapshot versioning (time travel) ----------------------------------
  //
  // MVCC over a plain parquet directory, the Delta-lite pattern: every
  // version is a FILE SET recorded in an NDJSON log (`_graft_versions
  // .json`, one {version, parent, files} line per snapshot). Upserts
  // append new files and a new log line — they never delete — so any
  // recorded version stays readable until [[vacuumSnapshots]] reclaims
  // files referenced only by dropped versions.
  //
  // WRITER CONCURRENCY contract: commits use optimistic concurrency with
  // an atomic version claim — before a writer rewrites the log for
  // version N it must exclusively create `_graft_commits/vN` (HDFS/POSIX
  // `create(overwrite = false)` is atomic put-if-absent, the same
  // primitive Delta's commit protocol rests on). Two writers racing from
  // the same parent both compute version N; exactly one wins the claim,
  // the loser gets a ConcurrentModificationException and must re-read
  // the log and retry — a conflict can NEVER silently drop the winner's
  // commit or corrupt the log. A loser's already-appended data files are
  // referenced by no version and are reclaimed by [[vacuumSnapshots]].
  // A writer that crashes between claim and log rewrite leaves an
  // orphaned marker that blocks version N; the error message names the
  // marker to delete for manual recovery. [[vacuumSnapshots]] itself is
  // a maintenance op and requires exclusive access (it rewrites the log
  // non-transactionally — do not vacuum under live writers).
  //
  // Readers MUST go through [[fromParquetSnapshot]]: the directory
  // accumulates files from many versions, so a raw spark.read.parquet of
  // it would see duplicates. The version log is bounded by contract (one
  // line per snapshot, one relative path per live file).

  private def versionLogPath(p: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(p, "_graft_versions.json")

  /** Parse the version log: Seq of (version, parent, files), ascending.
    * Empty if the directory has no snapshot log. */
  def snapshotVersions(spark: SparkSession, dest: String)
      : Seq[(Int, Int, Seq[String])] = {
    val p = new org.apache.hadoop.fs.Path(dest)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = versionLogPath(p)
    if (!fs.exists(log)) return Nil
    val in = fs.open(log)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    txt.split('\n').filter(_.nonEmpty).toSeq.map { line =>
      val n = mapper.readTree(line)
      val files = (0 until n.get("files").size())
        .map(i => n.get("files").get(i).asText())
      (n.get("version").asInt(), n.get("parent").asInt(), files)
    }.sortBy(_._1)
  }

  /** Atomically claim snapshot `version`: exclusive create of the
    * per-version marker. Throws ConcurrentModificationException if
    * another writer already claimed it (see the module comment's writer
    * concurrency contract). */
  private def claimVersion(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, version: Int): Unit = {
    val dir = new org.apache.hadoop.fs.Path(p, "_graft_commits")
    if (!fs.exists(dir)) fs.mkdirs(dir): Unit
    val marker = new org.apache.hadoop.fs.Path(dir, s"v$version")
    val os =
      try fs.create(marker, /* overwrite = */ false)
      catch {
        case e: java.io.IOException =>
          throw new java.util.ConcurrentModificationException(
            s"snapshot version $version at $p is already claimed by a " +
              s"concurrent writer (optimistic-concurrency conflict). " +
              s"Re-read the snapshot log and retry from the new head; the " +
              s"losing attempt's data files are unreferenced and will be " +
              s"reclaimed by vacuumSnapshots. If the claimant crashed " +
              s"before committing, delete $marker to recover. [${e}]")
      }
    os.close()
  }

  private def appendVersionLine(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, prior: Seq[(Int, Int, Seq[String])],
      version: Int, parent: Int, files: Seq[String]): Unit = {
    claimVersion(fs, p, version)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def line(v: Int, par: Int, fsx: Seq[String]): String = {
      val o = mapper.createObjectNode()
      o.put("version", v); o.put("parent", par)
      val arr = o.putArray("files"); fsx.foreach(arr.add)
      mapper.writeValueAsString(o)
    }
    val all = prior.map(t => line(t._1, t._2, t._3)) :+
      line(version, parent, files)
    // single-writer contract: rewrite-in-place of a bounded NDJSON log
    val os = fs.create(versionLogPath(p), true)
    try os.write(all.mkString("\n").getBytes("UTF-8")) finally os.close()
  }

  /** Start snapshot history for an existing parquet directory: records
    * the current file set as version 0. */
  def initSnapshots(spark: SparkSession, dest: String): Int = {
    val (fs, p, files) = walkDataFiles(spark, dest)
    require(snapshotVersions(spark, dest).isEmpty,
      s"$dest already has a snapshot log")
    appendVersionLine(fs, p, Nil, 0, -1, files.map(_._2))
    0
  }

  /** Read one recorded snapshot (default: the latest). Plans exactly the
    * version's file set — old versions read with zero copying because an
    * upsert never rewrites a file in place. */
  def fromParquetSnapshot(spark: SparkSession, dest: String,
      version: Int = -1): DataFrame = {
    val log = snapshotVersions(spark, dest)
    require(log.nonEmpty, s"$dest has no snapshot log (initSnapshots first)")
    val want = if (version < 0) log.last._1 else version
    val entry = log.find(_._1 == want).getOrElse(
      sys.error(s"version $want not in log (have ${log.map(_._1)}): " +
        "vacuumed or never written"))
    if (entry._3.isEmpty) spark.read.parquet(dest).limit(0)
    else spark.read.option("basePath", dest)
      .parquet(entry._3.map(f => s"$dest/$f"): _*)
  }

  /** Upsert as a NEW SNAPSHOT: same merge semantics and delta-
    * proportional file selection as [[upsertParquet]] (manifest min/max
    * ranges pick the affected files when a `_graft_metadata.json` sidecar
    * exists), but rewritten files are retired from the new version's file
    * set instead of deleted — the parent version still reads exactly as
    * before. Returns (rewrittenFiles, filesInParent, newVersion). */
  def upsertParquetSnapshot(spark: SparkSession, dest: String,
      updates: DataFrame, keyCol: String, keyCast: String = "bigint")
      : (Int, Int, Int) =
    snapshotRewrite(spark, dest, updates.select(col(keyCol)).distinct(),
      Some(updates), keyCol, keyCast)

  /** Shared snapshot-rewrite core: files whose manifest key range can
    * contain a key in `keys` are rewritten to survivors-only (rows NOT
    * in `keys`), `append` (if any) lands as new rows, and the new
    * version's file set retires the rewritten files. */
  private def snapshotRewrite(spark: SparkSession, dest: String,
      keys: DataFrame, append: Option[DataFrame], keyCol: String,
      keyCast: String): (Int, Int, Int) = {
    import spark.implicits._
    val log = snapshotVersions(spark, dest)
    require(log.nonEmpty, s"$dest has no snapshot log (initSnapshots first)")
    val (parentV, _, current) = log.last
    val (fs, p, before) = walkDataFiles(spark, dest)
    val sidecar = new org.apache.hadoop.fs.Path(p, "_graft_metadata.json")
    val affected: Seq[String] =
      if (!fs.exists(sidecar)) current
      else {
        val stats = element_at(col("col_stats"), keyCol)
        // the manifest covers every on-disk file including retired
        // versions' — restrict range-matching to THIS snapshot's files
        val ranges = fromParquetManifest(spark, dest)
          .join(broadcast(current.toDF("file")), "file")
          .select(col("file"),
            stats.getField("min").try_cast(keyCast).as("mn"),
            stats.getField("max").try_cast(keyCast).as("mx"))
        val ks = keys.select(col(keyCol).cast(keyCast).as("k")).distinct()
        ranges.join(ks,
            col("mn").isNull || col("mx").isNull ||
              col("k").between(col("mn"), col("mx")), "left_semi")
          .select(col("file")).collect().map(_.getString(0)).toSeq
          // bounded: one row per file in the parent snapshot
      }
    val base = append.getOrElse(fromParquetSnapshot(spark, dest).limit(0))
    val survivors =
      if (affected.isEmpty) base.limit(0)
      else {
        val old = spark.read.option("basePath", dest)
          .parquet(affected.map(f => s"$dest/$f"): _*)
        old.join(keys.select(col(keyCol)).distinct(), Seq(keyCol),
          "left_anti")
      }
    append.fold(survivors)(survivors.unionByName(_))
      .write.mode("append").parquet(dest)
    val beforeSet = before.map(_._2).toSet
    val fresh = walkDataFiles(spark, dest)._3.map(_._2)
      .filterNot(beforeSet)
    val nextFiles = current.filterNot(affected.toSet) ++ fresh
    appendVersionLine(fs, p, log, parentV + 1, parentV, nextFiles)
    if (fs.exists(sidecar)) writeManifestIncremental(spark, dest): Unit
    (affected.size, current.size, parentV + 1)
  }

  /** Delete-by-key as a NEW SNAPSHOT — the GDPR/right-to-be-forgotten
    * path: same manifest-ranged file selection as
    * [[upsertParquetSnapshot]] (only files whose [min, max] key range
    * can contain a doomed key are rewritten; at 100 TB almost none),
    * rewritten files are retired from the new version, nothing is
    * destroyed until [[vacuumSnapshots]] — which is what makes the
    * compliance story auditable: the deletion snapshot records exactly
    * which files changed, and vacuum is the physical erasure step.
    * Returns (rewrittenFiles, filesInParent, newVersion). */
  def deleteParquetSnapshot(spark: SparkSession, dest: String,
      keys: DataFrame, keyCol: String, keyCast: String = "bigint")
      : (Int, Int, Int) =
    snapshotRewrite(spark, dest, keys.select(col(keyCol)).distinct(),
      None, keyCol, keyCast)

  /** Change feed between two recorded snapshots, at DELTA cost: rows
    * that changed can only live in files in the symmetric difference of
    * the two versions' file sets, so only THOSE files are read — never
    * the stable bulk of the table. Emits one row per changed key with
    * `_op` ∈ {insert, delete, update}: keys only in `toV` are inserts,
    * only in `fromV` deletes, and keys present in both sides of the
    * changed-file read whose rows differ are updates (same-key rows
    * re-written byte-identically — pure file compaction — do not
    * appear). Column layout: (_op, <full row from the newer side; the
    * older values for deletes>). */
  def snapshotDiff(spark: SparkSession, dest: String, fromV: Int,
      toV: Int, keyCol: String): DataFrame = {
    val log = snapshotVersions(spark, dest)
    def filesOf(v: Int): Set[String] =
      log.find(_._1 == v).getOrElse(sys.error(s"version $v not in log"))._3.toSet
    val (fa, fb) = (filesOf(fromV), filesOf(toV))
    val onlyOld = (fa -- fb).toSeq
    val onlyNew = (fb -- fa).toSeq
    val schema = fromParquetSnapshot(spark, dest, toV).schema
    def read(files: Seq[String]): DataFrame =
      if (files.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.option("basePath", dest)
        .parquet(files.map(f => s"$dest/$f"): _*)
    val old = read(onlyOld)
    val neu = read(onlyNew)
    val inserts = neu.join(old.select(col(keyCol)), Seq(keyCol), "left_anti")
      .select(lit("insert").as("_op") +: schema.fieldNames.map(col): _*)
    val deletes = old.join(neu.select(col(keyCol)), Seq(keyCol), "left_anti")
      .select(lit("delete").as("_op") +: schema.fieldNames.map(col): _*)
    val updates = neu.join(old.select(col(keyCol)), Seq(keyCol), "left_semi")
      .exceptAll(old.join(neu.select(col(keyCol)), Seq(keyCol), "left_semi"))
      .select(lit("update").as("_op") +: schema.fieldNames.map(col): _*)
    inserts.unionByName(deletes).unionByName(updates)
  }

  /** Small-files compaction as a NEW SNAPSHOT: rewrite the CURRENT
    * version's files into ~`targetFileBytes` outputs and retire every
    * old file from the new version — same row set, new layout, history
    * intact. The maintenance op streaming/upsert-heavy snapshot tables
    * need (each upsert appends small files; read cost decays without
    * this). Correctness is self-testing through [[snapshotDiff]]: the
    * diff between the pre- and post-compaction versions must be EMPTY —
    * every rewritten row cancels byte-identically (pinned in
    * ModulesSpec). Returns (outputFiles, newVersion). */
  def compactSnapshot(spark: SparkSession, dest: String,
      targetFileBytes: Long = 128L << 20): (Int, Int) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val log = snapshotVersions(spark, dest)
    require(log.nonEmpty, s"$dest has no snapshot log (initSnapshots first)")
    val (parentV, _, current) = log.last
    val (fs, p, before) = walkDataFiles(spark, dest)
    val bytes = before.filter(f => current.contains(f._2)).map(_._3).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    fromParquetSnapshot(spark, dest).repartition(n)
      .write.mode("append").option("compression", "zstd").parquet(dest)
    val beforeSet = before.map(_._2).toSet
    val fresh = walkDataFiles(spark, dest)._3.map(_._2)
      .filterNot(beforeSet)
    appendVersionLine(fs, p, log, parentV + 1, parentV, fresh)
    if (fs.exists(new org.apache.hadoop.fs.Path(p, "_graft_metadata.json")))
      writeManifestIncremental(spark, dest): Unit
    (fresh.size, parentV + 1)
  }

  /** Reclaim history: keep the last `keepLast` versions, delete data
    * files referenced ONLY by dropped versions, truncate the log (and
    * refresh the manifest sidecar, which tracks on-disk files). Returns
    * the number of data files deleted. */
  def vacuumSnapshots(spark: SparkSession, dest: String,
      keepLast: Int): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val log = snapshotVersions(spark, dest)
    require(log.nonEmpty, s"$dest has no snapshot log")
    val (fs, p, onDisk) = walkDataFiles(spark, dest)
    val kept = log.takeRight(keepLast)
    val live = kept.flatMap(_._3).toSet
    val doomed = onDisk.map(_._2).filterNot(live)
    doomed.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(p, f), false))
    val os = fs.create(versionLogPath(p), true)
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val lines = kept.map { case (v, par, fsx) =>
        val o = mapper.createObjectNode()
        o.put("version", v); o.put("parent", par)
        val arr = o.putArray("files"); fsx.foreach(arr.add)
        mapper.writeValueAsString(o)
      }
      os.write(lines.mkString("\n").getBytes("UTF-8"))
    } finally os.close()
    if (fs.exists(new org.apache.hadoop.fs.Path(p, "_graft_metadata.json")))
      writeManifestIncremental(spark, dest): Unit
    doomed.size
  }

  /** `from_json` line-delimited with optional explicit schema — schema
    * pushdown is the reference's JSONSchema trick (`json.py:77-89`) done
    * natively by the reader's requiredSchema. */
  def fromJson(spark: SparkSession, path: String,
      schema: Option[StructType] = None,
      samplingRatio: Double = 1.0,
      lineDelimited: Boolean = true): DataFrame = {
    // lineDelimited=false is the reference's one-object-per-file mode
    // (json.py:484-495) — Spark's multiLine, which gives up intra-file
    // split parallelism exactly like the reference's one-partition-per-file
    val r = spark.read.option("samplingRatio", samplingRatio)
      .option("multiLine", !lineDelimited)
    schema.fold(r.json(path))(s => r.schema(s).json(path))
  }

  def toJson(df: DataFrame, dest: String, compression: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
    compression.fold(w)(c => w.option("compression", c)).json(dest)
  }

  /** `from_text` (reference `lib/io/text.py:54-127`): one string row per
    * line, custom line separator supported. */
  def fromText(spark: SparkSession, path: String,
      lineSep: Option[String] = None): DataFrame = {
    val r = spark.read
    lineSep.fold(r)(sep => r.option("lineSep", sep)).text(path)
  }

  /** `from_lists` / `from_awkward` (reference `lib/io/io.py:79-191`):
    * in-memory rows -> n partitions. */
  def fromSeq[T <: Product : org.apache.spark.sql.Encoder](
      spark: SparkSession, rows: Seq[T], npartitions: Int): Dataset[T] =
    spark.createDataset(rows).repartition(npartitions)

  /** `from_map` (reference `lib/io/io.py:528-697`): the generic source
    * builder — a function plus an iterable of per-partition inputs, one
    * partition per input. The one legitimate RDD use in the library:
    * per-partition imperative generation that no declarative source
    * expresses. Schema comes from the Encoder (the analog of the
    * reference's `meta=`; Catalyst cannot simulate an opaque fn). */
  def fromMap[I: scala.reflect.ClassTag,
      T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
      spark: SparkSession, inputs: Seq[I])(fn: I => Iterator[T]): Dataset[T] = {
    val rdd = spark.sparkContext
      .parallelize(inputs, math.max(1, inputs.size))
      .flatMap(fn)
    spark.createDataset(rdd)
  }

  /** `from_map` with the reference's per-partition report stream
    * (`io.py:651-695`): each input yields (rows, status); failures
    * contribute zero rows plus an error record instead of failing the job.
    * Statuses travel through a second Dataset, evaluated with the data. */
  def fromMapWithReport[I: scala.reflect.ClassTag,
      T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
      spark: SparkSession, inputs: Seq[I])(fn: I => Iterator[T])
      : (Dataset[T], DataFrame) = {
    import spark.implicits._
    // fn runs ON EXECUTORS, once per input; the tried partition is persisted
    // so the data and report actions share one evaluation (the reference
    // shares the task between the two output collections the same way).
    val tried = spark.sparkContext
      .parallelize(inputs, math.max(1, inputs.size))
      .map { in =>
        try { (in.toString, "ok", fn(in).toArray) }
        catch { case e: Throwable =>
          (in.toString, "error: " + String.valueOf(e.getMessage).take(200),
            Array.empty[T]) }
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val data = spark.createDataset(tried.flatMap(_._3))
    val report = tried.map { case (i, s, a) => (i, s, a.length.toLong) }
      .toDF("input", "status", "rows")
    (data, report)
  }

  /** The `report=True` read: each file yields either its row count or an
    * error record; bad files don't fail the job (the reference's mock-empty
    * + error-report path, `parquet.py:168-177`). Returns (data, report). */
  def fromParquetWithReport(spark: SparkSession, paths: Seq[String])
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val statuses = paths.map { p =>
      try {
        val n = spark.read.parquet(p).count()
        (p, "ok", n, "")
      } catch {
        case e: Throwable => (p, "error", 0L, e.getMessage.take(200))
      }
    }
    val good = statuses.collect { case (p, "ok", _, _) => p }
    val data =
      if (good.isEmpty) spark.emptyDataFrame
      else spark.read.parquet(good: _*)
    (data, statuses.toDF("path", "status", "rows", "error"))
  }
}
