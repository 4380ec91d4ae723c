package graft.operators

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag

/**
 * Structural (schema-level) validation between a table's actual parquet
 * schema and the contract schema a run enforces — the table-level analog
 * of the reference's per-file structure checks (validate_file_data.py's
 * filetype gate; manifest required-column abort, submission_data.py).
 *
 * Why it must run BEFORE the data passes: `spark.read.schema(S).parquet`
 * silently NULLs columns missing from the files and silently prunes
 * extras, so a renamed or retyped column would surface as a wall of
 * row-rule violations (or a mid-job cast failure) instead of the real
 * story — "the table's shape changed". The gate reads one footer
 * (driver-side metadata, no data pass) and aborts with the exact column
 * diff.
 */
object SchemaCheck {

  final case class SchemaChange(
      column: String,
      change: String, // added | removed | type_changed
      before: Option[String],
      after: Option[String])

  val Added = "added"
  val Removed = "removed"
  val TypeChanged = "type_changed"

  /** Nullability-normalized type: parquet footers and encoder schemas
    * disagree on nullable/containsNull for identical logical types, so
    * compatibility ignores it at every nesting level. */
  private def norm(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f =>
        StructField(f.name, norm(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(norm(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(norm(m.keyType), norm(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Column-level diff `before -> after` (top-level names; nested changes
    * surface as type_changed on their root column). */
  def diff(before: StructType, after: StructType): Seq[SchemaChange] = {
    val b = before.fields.map(f => f.name -> norm(f.dataType)).toMap
    val a = after.fields.map(f => f.name -> norm(f.dataType)).toMap
    val removed = before.fields.collect {
      case f if !a.contains(f.name) =>
        SchemaChange(f.name, Removed, Some(f.dataType.sql), None)
    }
    val added = after.fields.collect {
      case f if !b.contains(f.name) =>
        SchemaChange(f.name, Added, None, Some(f.dataType.sql))
    }
    val changed = after.fields.collect {
      case f if b.get(f.name).exists(_ != norm(f.dataType)) =>
        SchemaChange(f.name, TypeChanged,
          Some(before(f.name).dataType.sql), Some(f.dataType.sql))
    }
    (removed.toSeq ++ changed.toSeq ++ added.toSeq).sortBy(_.column)
  }

  /** Abort unless every `required` column exists in `actual` with the
    * same (nullability-normalized) type. EXTRA actual columns are fine —
    * a snapshot may carry more than the contract reads. */
  def requireCompatible(
      actual: StructType,
      required: StructType,
      what: String): Unit = {
    val bad = diff(required, actual).filter(_.change != Added)
    if (bad.nonEmpty) {
      val detail = bad.map {
        case SchemaChange(c, Removed, Some(t), _) => s"$c: missing (need $t)"
        case SchemaChange(c, TypeChanged, Some(b), Some(a)) =>
          s"$c: type $a (need $b)"
        case other => other.toString
      }.mkString("; ")
      throw new IllegalStateException(
        s"schema drift in $what — $detail")
    }
  }

  private val InferKey =
    "spark.sql.sources.partitionColumnTypeInference.enabled"

  /** Isolated session for a no-partition-type-inference metadata probe.
    * A set/restore toggle on the SHARED session conf is a race: two
    * concurrent probes (e.g. two submission-scoped validations on
    * disjoint partition sets) can interleave as set(f)/set(f)/
    * restore(t)/restore(f) and leave inference OFF for the whole JVM —
    * every later reader of a numeric partition column then sees strings.
    * `newSession` shares the SparkContext but owns its conf, so the
    * probe setting never touches (and is never corrupted by) anyone
    * else.
    *
    * One probe session is CACHED per parent session (weak keys — it dies
    * with its parent), and the parent's modifiable runtime confs are
    * re-synced onto it at every probe (ADVICE r04 #4): `newSession`
    * starts from the context's INITIAL conf, so reader-relevant settings
    * the caller changed at runtime (timezone, parquet options) would
    * otherwise be silently ignored by the schema probe. */
  private val probeSessions = new java.util.WeakHashMap[
    SparkSession, SparkSession]()

  private def probeSession(spark: SparkSession): SparkSession =
    probeSessions.synchronized {
      val s = Option(probeSessions.get(spark)).getOrElse {
        val fresh = spark.newSession()
        probeSessions.put(spark, fresh)
        fresh
      }
      spark.conf.getAll.foreach { case (key, v) =>
        if (key != InferKey && spark.conf.isModifiable(key) &&
            !s.conf.getOption(key).contains(v))
          s.conf.set(key, v)
      }
      s.conf.set(InferKey, "false")
      s
    }

  /** Actual footer schema of a parquet table, with partition-column type
    * inference OFF (numeric-looking partition directory values would
    * otherwise probe as int and false-alarm against a string contract).
    * One footer read — metadata only. */
  def parquetSchema(spark: SparkSession, path: String): StructType =
    probeSession(spark).read.parquet(path).schema

  /** The typed read of a table whose contract is the case class `T`,
    * gated first: `schema(S).parquet` silently NULLs missing columns and
    * prunes extras, so a renamed or retyped column would otherwise show
    * as a wall of row violations, not as "the table's shape changed".
    * The contract schema is given explicitly because inference would run
    * a footer-reading job per read (~0.5 s of serial driver time per
    * session at the bench layout); partition columns (hive `source=`
    * dirs) match it by name. One footer read. */
  def readTyped[T <: Product : TypeTag](
      spark: SparkSession, path: String, what: String): Dataset[T] = {
    val contract = Encoders.product[T]
    requireCompatible(parquetSchema(spark, path), contract.schema, what)
    spark.read.schema(contract.schema).parquet(path).as[T](contract)
  }

  /** Merged footer schema across an EXPLICIT file list. The table-level
    * probe above reads one footer, so a single retyped file hiding among
    * compatible ones escapes it and dies mid-scan as a raw executor
    * column-convert error. For file sets the run enumerates anyway (an
    * append-delta's new files), merging every footer closes that hole:
    * mutually-incompatible files abort here, and the merged schema is
    * what `requireCompatible` diffs against the contract. Footers merge
    * in one distributed job — cost scales with the delta, not the table. */
  def parquetSchemaOfFiles(
      spark: SparkSession,
      basePath: String,
      files: Seq[String],
      what: String): StructType = {
    try probeSession(spark).read
      .option("mergeSchema", "true").option("basePath", basePath)
      .parquet(files: _*).schema
    catch {
      case e: org.apache.spark.SparkException =>
        throw new IllegalStateException(
          s"schema drift in $what — footers do not merge: ${e.getMessage}")
    }
  }
}
