package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Thin storage abstraction (SURVEY.md §7.1): the BASELINE input hint names
 * Iceberg, but the sandbox ships no Iceberg runtime, so the default
 * implementation is source-partitioned Parquet + an engine-maintained
 * snapshot id, carrying the Iceberg concepts the engine needs (partitioned
 * layout, idempotent partition overwrite, stable snapshot identity for
 * checkpoint lineage). An Iceberg-catalog implementation can slot in when
 * the runtime jar is present — the engine only uses this interface.
 */
object TableIO {

  /** Write partitioned by `source` with DYNAMIC partition overwrite — the
    * Spark-native form of the reference's delete-then-rewrite idempotent
    * refresh (reference manifest_processor.py:465-491): re-running a
    * partition replaces exactly that partition's files, nothing else.
    *
    * Rows are CLUSTERED by the partition column (plus `saltFiles`-way salt
    * when one partition's output is large enough to want multiple writers)
    * before the write: without this, every upstream task writes a sliver
    * into every partition dir — thousands of tiny files whose commit is a
    * DRIVER-SERIAL rename loop. With it, file count = |partitions| x
    * saltFiles regardless of upstream parallelism. */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCol: String = "source",
      saltFiles: Int = 1,
      /** Skip the clustering shuffle when the input is ALREADY clustered
        * (e.g. re-writing a frame that was repartitioned before a persist):
        * the shuffle would re-move every row for nothing — a whole extra
        * stage of fixed cost on the serial tail of a run. */
      recluster: Boolean = true): Unit = {
    import org.apache.spark.sql.functions._
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val clustered =
      if (!recluster) df
      else if (saltFiles <= 1) df.repartition(n, col(partitionCol))
      else df.repartition(n, col(partitionCol),
        pmod(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)), lit(saltFiles.toLong)))
    clustered.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /** The parquet table at `path`, or None when nothing was written there
    * yet: the path is missing, or holds no data file or partition dir
    * (a partitioned write of zero rows leaves just the directory, which
    * Spark cannot infer a schema from). */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    Option.when(hasData(spark, path))(spark.read.parquet(path))

  /** Whether [[readIfExists]] would find a table at `path`. */
  def hasData(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val name = st.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
  }

  /** Rows in these parquet files, summed from their footers on the
    * driver: no Spark job, no data page read. */
  def parquetRowCount(spark: SparkSession, paths: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Hive-style partition-path unescape: every %xx byte-escape Spark's
    * partition writer emits is decoded; everything else (including '+',
    * which is LITERAL in Hive paths, unlike URL encoding) passes through.
    * Spark escapes with uppercase %XX (ExternalCatalogUtils semantics —
    * re-derived from the public escaping contract, not copied), so
    * decode-side handling of %xx is the whole inverse. */
  def unescapePathName(name: String): String = {
    val sb = new StringBuilder(name.length)
    var i = 0
    while (i < name.length) {
      val c = name.charAt(i)
      if (c == '%' && i + 2 < name.length &&
          isHex(name.charAt(i + 1)) && isHex(name.charAt(i + 2))) {
        sb.append(Integer.parseInt(name.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')

  /** Drop the hive-layout partition directories for `values` of
    * `partitionCol` under `path`. Dynamic partition overwrite only replaces
    * partitions PRESENT in the written data — a re-validated source that is
    * now clean writes zero violation rows, so its stale partition files
    * would survive and poison the next roll-up (ADVICE r01). Callers delete
    * the partitions of every source in the run before writing. Driver-side
    * metadata work over |values| directories (the Iceberg-delete analog).
    *
    * Matching is by LISTING the existing directories and comparing their
    * DECODED values (ADVICE r02): constructing the directory name with URL
    * encoding silently missed any value Spark escapes differently — e.g.
    * the in-repo manifest fill value "not provided", whose real directory
    * is `source=not provided`, not `source=not+provided`. */
  def deletePartitions(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      values: Seq[String]): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val want = values.toSet
    val prefix = partitionCol + "="
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .filter { st =>
        val name = st.getPath.getName
        name.startsWith(prefix) &&
          want(unescapePathName(name.stripPrefix(prefix)))
      }
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Partition values of a hive-layout table from DIRECTORY NAMES — a
    * metadata read (the Iceberg-manifest analog), replacing a full-table
    * DISTINCT scan. Returns None when the table isn't partitioned by
    * `column` (caller falls back to a distinct query). */
  def partitionValues(
      spark: SparkSession, path: String, column: String): Option[Seq[String]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val prefix = column + "="
    val dirs = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
    if (dirs.isEmpty) None
    else Some(dirs.map(d =>
      unescapePathName(d.stripPrefix(prefix))).sorted)
  }

  /** Required manifest columns — a manifest missing any of them is
    * rejected before validation starts (reference abort semantics:
    * submission_data.py:95-119 hard-fails the submission on missing
    * required columns before touching any file). */
  val manifestRequiredColumns: Seq[String] =
    Seq("source", "expected_docs", "min_tok", "max_tok")

  /** Manifest TSV source (reference S1: pd.read_csv(sep='\t') +
    * fillna("not provided") + str.strip on filename,
    * submission_data.py:61-86): header'd TSV with declared schema, trimmed
    * keys, explicit nulls filled. Throws IllegalArgumentException when the
    * header lacks a required column (the reference's pre-flight abort). */
  def readManifestTsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = spark.read
      .option("sep", "\t").option("header", "true").csv(path)
    val header = raw.columns.toSet
    val missing = manifestRequiredColumns.filterNot(header)
    require(missing.isEmpty,
      s"manifest is missing required column(s): ${missing.mkString(", ")} " +
        s"(found: ${header.toSeq.sorted.mkString(", ")})")
    raw
      .select( // by NAME — robust to column order in the file
        trim(col("source")).as("source"),
        col("expected_docs").cast("long").as("expected_docs"),
        col("min_tok").cast("int").as("min_tok"),
        col("max_tok").cast("int").as("max_tok"))
      .na.fill("not provided", Seq("source"))
      .na.fill(0L, Seq("expected_docs"))
  }

  /** Manifest TSV regeneration sink (reference K4: rebuild manifest.txt
    * from records, data_transfer_manager.py:316-342). */
  def writeManifestTsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write
      .mode(SaveMode.Overwrite)
      .option("sep", "\t")
      .option("header", "true")
      .csv(path)

  /** Stable snapshot identity for a table path: hash of the sorted data
    * file (name, length) listing — deterministic for identical data,
    * changes when any file changes. Stands in for an Iceberg snapshot id
    * in checkpoint lineage. Uses the filesystem's bulk recursive listing
    * (one listing stream, no per-directory recursion); still a driver-side
    * metadata pass — at millions of files this is the first thing an
    * Iceberg catalog (snapshot id from table metadata, zero listing)
    * replaces, which is exactly the TableIO slot-in point. */
  def snapshotId(spark: SparkSession, path: String): String =
    listingInventory(spark, path) match {
      case None => emptyListingId
      case Some(files) => md5Hex(files.sorted.mkString("\n"))
    }

  /** Per-PARTITION snapshot ids for a hive-layout table: one content id
    * per `partitionCol=` directory, derived from that directory's own
    * file inventory. This is the per-partition half of the Iceberg-
    * manifest stand-in: checkpoint lineage keyed on a partition's OWN
    * snapshot re-validates exactly the partitions whose files changed —
    * a new submission prefix neither re-validates nor lineage-blocks the
    * untouched ones. None for non-hive layouts (callers fall back to the
    * whole-table id). */
  def partitionSnapshotIds(
      spark: SparkSession, path: String,
      partitionCol: String): Option[Map[String, String]] =
    partitionFiles(spark, path, partitionCol).map(_.map {
      case (value, files) => value -> snapshotIdOfFiles(files)
    })

  /** Per-partition `path:length` file inventories for a hive-layout table
    * — the SAME walk [[partitionSnapshotIds]] hashes (call this once and
    * derive both; the walk is the cost an Iceberg manifest removes).
    * Append-delta runs subtract a persisted old inventory from this to
    * find exactly the new files. None for non-hive layouts. */
  def partitionFiles(
      spark: SparkSession, path: String,
      partitionCol: String): Option[Map[String, Seq[String]]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val prefix = partitionCol + "="
    val dirs = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith(prefix))
    if (dirs.isEmpty) return None
    Some(dirs.map { d =>
      val value = unescapePathName(d.getName.stripPrefix(prefix))
      value -> listingInventory(spark, d.toString).getOrElse(Nil)
    }.toMap)
  }

  /** Content id of one partition's inventory — md5 of the sorted
    * `path:length` entries (the exact arithmetic the checkpoint lineage
    * has always used). */
  def snapshotIdOfFiles(files: Seq[String]): String =
    if (files.isEmpty) emptyListingId
    else md5Hex(files.sorted.mkString("\n"))

  /** The data-file path of a `path:length` inventory entry. */
  def inventoryEntryPath(entry: String): String =
    entry.substring(0, entry.lastIndexOf(':'))

  /** (path:length) inventory of every data file under `path`; None if the
    * path does not exist. */
  private def listingInventory(
      spark: SparkSession, path: String): Option[Seq[String]] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      // Local-FS fast path: Hadoop's LocalFileSystem recursion stats each
      // file through several shim layers (~2 s of pure serial driver time
      // per run at the bench layout); java.nio walks the same tree in tens
      // of ms. Identical (path, length) inventory either way.
      val root = java.nio.file.Paths.get(uri.getPath)
      if (!java.nio.file.Files.exists(root)) return None
      val stream = java.nio.file.Files.walk(root)
      try {
        stream.forEach { q =>
          val name = q.getFileName.toString
          if (java.nio.file.Files.isRegularFile(q) &&
              !name.startsWith("_") && !name.startsWith("."))
            files += s"${q.toAbsolutePath}:${java.nio.file.Files.size(q)}"
        }
      } finally stream.close()
    } else {
      if (!fs.exists(p)) return None
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith("."))
          files += s"${st.getPath.toUri.getPath}:${st.getLen}"
      }
    }
    Some(files.toSeq)
  }

  /** Lowercase hex MD5 of a string's UTF-8 bytes: every lineage id
    * (snapshot ids, ruleset hashes, run ids) is one of these. */
  def md5Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** Whole-table snapshot id derived from per-partition ids — one
    * directory walk serves both granularities (the walk is the cost an
    * Iceberg catalog removes; never pay it twice per run). */
  def snapshotIdFromPartitions(partSnaps: Map[String, String]): String =
    md5Hex(partSnaps.toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString("\n"))

  private def emptyListingId: String = md5Hex("")
}
