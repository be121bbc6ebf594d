package graft.sources.tx

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.Tx

/** The change data feed as a DataSource V2 read —
  *
  * {{{
  *   spark.read.format("graft-tx")
  *     .option("readChangeFeed", true)
  *     .option("fromVersion", a).option("toVersion", b)
  *     .load(path)                       // rows + _change, SQL-ready
  * }}}
  *
  * — with a BETTER distribution shape than the programmatic
  * [[Tx.changes]]: that one diffs via a full-outer join, which SHUFFLES
  * both sides on the merge keys; here each changed bucket diffs
  * BUCKET-LOCALLY in its own task (both versions of a bucket hold the
  * same key partition by construction — rows never migrate buckets), so
  * the whole feed is one scan stage with ZERO exchange. The old side of
  * a bucket is held in the task's heap as compact UnsafeRows — the same
  * order of memory the bucket-scoped rewrite that produced it needed,
  * which is what `nBuckets` sizes. HONEST SCOPE: a bucket's old side
  * must fit in one task's heap; a guarded byte budget
  * (`option("maxDiffBucketBytes", n)`, default 8 GiB) turns the
  * would-be OOM into a named error pointing at the `nBuckets` dial —
  * consumers who cannot re-bucket fall back to [[Tx.changes]]' spilling
  * join.
  *
  * Semantics are [[Tx.changes]]' exactly (spec-pinned row-for-row):
  * net endpoint diff, unchanged re-landed rows compared out with
  * Spark's null-safe/NaN-aware equality, updates as post rows or
  * pre/post pairs (`option("emitPre", true)`), both sides read under
  * the NEWER schema so evolution serves nulls. Decode rides the same
  * vectorized parquet path as the snapshot scan
  * ([[TxBucketColumnarReader]]), so array/struct columns — q265's
  * embedding corpora — diff through this feed too.
  */
object TxChanges {
  def feedSchema(table: StructType): StructType =
    StructType(table.fields :+
      StructField("_change", StringType, nullable = false))

  /** [[feedSchema]] plus the commit attribution the STREAMING feed
    * carries ([[TxChangesStream]]): each row is stamped with the version
    * that produced it, [[Tx.changesStamped]]'s column.
    */
  def stampedSchema(table: StructType): StructType =
    StructType(feedSchema(table).fields :+
      StructField("_commit_version", LongType, nullable = false))

  private[tx] def maxDiffBytesOf(options: CaseInsensitiveStringMap): Long =
    options.getLong("maxDiffBucketBytes", 8L << 30)
}

class TxChangesTable(
    path: String, fromV: Long, toV: Long, emitPre: Boolean,
    feedSchema: StructType) extends Table with SupportsRead {

  override def name(): String = s"graft-tx-cdf($path v$fromV..v$toV)"
  override def schema(): StructType = feedSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new TxChangesScan(path, fromV, toV, emitPre, feedSchema,
          TxChanges.maxDiffBytesOf(options))
    }
}

class TxChangesScan(
    path: String, fromV: Long, toV: Long, emitPre: Boolean,
    feedSchema: StructType, maxDiffBytes: Long) extends Scan with Batch {

  // resolve both endpoints ONCE, with changes()'s own error wording for
  // retired/nonexistent versions (delegate the validation to it cheaply
  // by resolving the same snapshots it would)
  require(fromV < toV,
    s"graft-tx: readChangeFeed needs fromVersion < toVersion, " +
      s"got $fromV, $toV")
  private def resolve(v: Long) =
    try TxSource.snapshotAt(path, v)
    catch {
      case e: IllegalStateException => throw new IllegalStateException(
        e.getMessage + " — a change-feed consumer this far behind " +
          "retention must re-bootstrap")
    }
  private val a = resolve(fromV)
  private val b = resolve(toV)
  private val keys = b.meta.get(Tx.KeysKey).map(_.split(",").toSeq)
    .getOrElse(throw new IllegalStateException(
      s"graft-tx: $path has no recorded merge keys (no data commit yet)"))

  override def readSchema(): StructType = feedSchema
  override def description(): String = {
    val changed = (a.dirs.keySet ++ b.dirs.keySet)
      .count(k => a.dirs.get(k) != b.dirs.get(k))
    s"TxChangesScan($path v$fromV..v$toV, changedBuckets=$changed, " +
      s"emitPre=$emitPre)"
  }
  override def toBatch: Batch = this

  /** One partition per CHANGED bucket — the manifest diff names them;
    * untouched buckets are never opened, and the diff itself needs no
    * exchange because a bucket's key partition is version-stable.
    */
  override def planInputPartitions(): Array[InputPartition] =
    TxChangesScan.spanPartitions(path, a, b, keys, emitPre,
      maxDiffBytes, stampVersion = None)

  override def createReaderFactory(): PartitionReaderFactory =
    TxChangesScan.readerFactory

  /** Two reads of one feed span are the same scan, so AQE can reuse the
    * exchanges above them (`BatchScanExec` compares its batches). Equal
    * over the RESOLVED content, not the version numbers: commit dirs are
    * UUID-named, so a re-created table never matches a stale span.
    */
  private def content =
    (path, a.dirs, a.tombs, b.dirs, b.tombs, b.meta.get(Tx.SchemaKey),
      emitPre, feedSchema, maxDiffBytes)
  override def equals(other: Any): Boolean = other match {
    case o: TxChangesScan => o.content == content
    case _ => false
  }
  override def hashCode(): Int = content.##
}

object TxChangesScan {
  /** The changed-bucket partitions of one (a → b) span, diffed under
    * the span's own (newer) schema — the batch CDF scan's shape.
    */
  private[tx] def spanPartitions(
      path: String, a: Tx.Snapshot, b: Tx.Snapshot, keys: Seq[String],
      emitPre: Boolean, maxDiffBytes: Long,
      stampVersion: Option[Long]): Array[InputPartition] = {
    val schema = b.meta.get(Tx.SchemaKey)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"graft-tx: $path has no recorded schema (no data commit yet)"))
    spanPartitionsUnder(path, a, b, schema, keys, emitPre, maxDiffBytes,
      stampVersion)
  }

  /** [[spanPartitions]] under an EXPLICIT schema — the streaming source
    * pins the schema it resolved at start, so a mid-stream addColumn's
    * extra column is projected away instead of widening rows mid-query.
    */
  private[tx] def spanPartitionsUnder(
      path: String, a: Tx.Snapshot, b: Tx.Snapshot, schema: StructType,
      keys: Seq[String], emitPre: Boolean, maxDiffBytes: Long,
      stampVersion: Option[Long]): Array[InputPartition] = {
    // the bucket-LOCAL diff pairs the two versions' buckets by INDEX,
    // which is sound only because rows never migrate buckets — a
    // REBUCKET boundary breaks exactly that (key X moves bucket 3 ->
    // 19 with no content change, and index pairing would fabricate a
    // delete+insert pair with undefined apply order). Refuse loudly;
    // Tx.changes' key-based join diffs across the boundary correctly
    // (and nets to empty), at full-read cost.
    require(a.nBuckets == b.nBuckets,
      s"graft-tx: versions v${a.version} (${a.nBuckets} buckets) and " +
        s"v${b.version} (${b.nBuckets} buckets) straddle a REBUCKET — " +
        "the bucket-local change feed cannot diff across a re-layout. " +
        "Diff the boundary with Tx.changes (key-based, layout-blind), " +
        "or re-bootstrap the consumer from the post-rebucket snapshot")
    // a bucket whose DIR is unchanged but whose deletion-vector set
    // differs still changed: merge-on-read deletes move no files
    val changed = (a.dirs.keySet ++ b.dirs.keySet)
      .filter(k => a.dirs.get(k) != b.dirs.get(k) ||
        a.tombs.get(k) != b.tombs.get(k))
    changed.toSeq.sorted.map { k =>
      TxDiffPartition(
        a.dirs.get(k).map(rel => s"$path/$rel").getOrElse(""),
        b.dirs.get(k).map(rel => s"$path/$rel").getOrElse(""),
        schema.json, keys, emitPre, maxDiffBytes,
        stampVersion,
        a.tombs.getOrElse(k, Nil).map(rel => s"$path/$rel"),
        b.tombs.getOrElse(k, Nil).map(rel => s"$path/$rel")): InputPartition
    }.toArray
  }

  private[tx] val readerFactory: PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new TxDiffReader(p.asInstanceOf[TxDiffPartition])
    }
}

/** One changed bucket: the two versions' directories ("" = the bucket
  * has no data in that version), the table schema, the merge keys, the
  * old-side heap budget, and (streaming only) the commit version each
  * row is stamped with.
  */
case class TxDiffPartition(
    oldDir: String, newDir: String, schemaJson: String,
    keys: Seq[String], emitPre: Boolean,
    maxDiffBytes: Long = 8L << 30,
    stampVersion: Option[Long] = None,
    oldTombs: Seq[String] = Nil, // each side's deletion-vector dirs:
    newTombs: Seq[String] = Nil) // a side's content = dir minus its DVs
    extends InputPartition

/** Bucket-local diff: the OLD side loads into a hash map keyed by the
  * merge keys, the NEW side streams against it — inserts and updates
  * emit as encountered, survivors of the map emit as deletes. Both
  * sides decode through the VECTORIZED parquet reader
  * ([[TxBucketColumnarReader]] — nested columns included); old rows are
  * stored as compact [[UnsafeRow]] copies, and a byte budget turns a
  * bucket that outgrows the task heap into a named error instead of an
  * OOM. Equality over non-key columns matches Spark's `<=>`: null-safe,
  * NaN == NaN, -0.0 == 0.0, binary by content — recursively through
  * arrays and structs.
  */
class TxDiffReader(part: TxDiffPartition)
    extends PartitionReader[InternalRow] {

  private val schema =
    DataType.fromJson(part.schemaJson).asInstanceOf[StructType]
  private val n = schema.length
  private val keyIdx = part.keys.map(schema.fieldIndex).toArray
  private val nonKeyIdx =
    (0 until n).filterNot(keyIdx.contains).toArray

  keyIdx.foreach { i =>
    schema(i).dataType match {
      case _: StructType | _: ArrayType | _: MapType =>
        throw new UnsupportedOperationException(
          s"graft-tx: merge key '${schema(i).name}' has a nested type — " +
            "the bucket-local diff keys its hash map on flat values only")
      case _ => ()
    }
  }

  /** Spark-`<=>` value semantics for the map KEYS (flat types only,
    * guarded above): doubles/floats normalize -0.0 and equate NaNs;
    * byte arrays wrap for content equality/hash.
    */
  private def norm(v: Any): Any = v match {
    case d: Double =>
      if (d.isNaN) java.lang.Double.valueOf(Double.NaN)
      else if (d == 0.0) java.lang.Double.valueOf(0.0) else d
    case f: Float =>
      if (f.isNaN) java.lang.Float.valueOf(Float.NaN)
      else if (f == 0.0f) java.lang.Float.valueOf(0.0f) else f
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case u: UTF8String => u.clone() // detach from any reused buffer
    case other => other
  }

  private def keyOf(r: InternalRow): Seq[Any] =
    keyIdx.toSeq.map(i =>
      if (r.isNullAt(i)) null else norm(r.get(i, schema(i).dataType)))

  /** Spark-`<=>` equality, recursive through arrays and structs (maps
    * are not equatable in Spark SQL either — [[Tx.changes]]' own
    * null-safe compare would reject them first).
    */
  private def eqv(dt: DataType, a: Any, b: Any): Boolean = {
    if (a == null || b == null) return (a == null) == (b == null)
    dt match {
      case DoubleType =>
        val x = a.asInstanceOf[Double]; val y = b.asInstanceOf[Double]
        (x.isNaN && y.isNaN) || x == y // primitive ==: -0.0 == 0.0
      case FloatType =>
        val x = a.asInstanceOf[Float]; val y = b.asInstanceOf[Float]
        (x.isNaN && y.isNaN) || x == y
      case BinaryType => java.util.Arrays.equals(
        a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
      case st: StructType =>
        val ra = a.asInstanceOf[InternalRow]
        val rb = b.asInstanceOf[InternalRow]
        st.fields.indices.forall { i =>
          val ft = st(i).dataType
          eqv(ft,
            if (ra.isNullAt(i)) null else ra.get(i, ft),
            if (rb.isNullAt(i)) null else rb.get(i, ft))
        }
      case at: ArrayType =>
        val aa = a.asInstanceOf[ArrayData]
        val ab = b.asInstanceOf[ArrayData]
        aa.numElements() == ab.numElements() &&
          (0 until aa.numElements()).forall { i =>
            eqv(at.elementType,
              if (aa.isNullAt(i)) null else aa.get(i, at.elementType),
              if (ab.isNullAt(i)) null else ab.get(i, at.elementType))
          }
      case _: MapType => throw new UnsupportedOperationException(
        "graft-tx: map columns have no deterministic equality — the " +
          "change feed cannot classify them (Spark's own <=> rejects " +
          "maps too)")
      case _ => a == b // Long/Int/Boolean boxes, UTF8String, Decimal
    }
  }

  private def sameNonKeys(x: InternalRow, y: InternalRow): Boolean =
    nonKeyIdx.forall { i =>
      val dt = schema(i).dataType
      eqv(dt,
        if (x.isNullAt(i)) null else x.get(i, dt),
        if (y.isNullAt(i)) null else y.get(i, dt))
    }

  /** Row views out of the vectorized reader's ColumnarBatches — valid
    * only until the next advance; callers project/copy before keeping.
    */
  private def rawRows(dir: String, under: StructType): Iterator[InternalRow] =
    if (dir.isEmpty) Iterator.empty
    else {
      val r = new TxBucketColumnarReader(dir, under)
      new Iterator[InternalRow] {
        private var batchRows: java.util.Iterator[InternalRow] = _
        private var open = true
        private def advance(): Unit = {
          while (open && (batchRows == null || !batchRows.hasNext)) {
            if (r.next()) batchRows = r.get().rowIterator()
            else { r.close(); open = false }
          }
        }
        override def hasNext: Boolean = { advance(); open }
        override def next(): InternalRow = { advance(); batchRows.next() }
      }
    }

  // deletion-vector sidecar files hold exactly the key columns (physical
  // names), so a side's dead set loads under the key schema alone
  private lazy val physKeySchema = Tx.physSchema(
    StructType(keyIdx.map(schema(_)).toSeq), schema)

  private def deadKeys(dirs: Seq[String]): java.util.HashSet[Seq[Any]] = {
    val set = new java.util.HashSet[Seq[Any]]()
    val idx = physKeySchema.fields.indices
    dirs.foreach { td =>
      rawRows(td, physKeySchema).foreach { r =>
        set.add(idx.map(i =>
          if (r.isNullAt(i)) null
          else norm(r.get(i, physKeySchema(i).dataType))))
      }
    }
    set
  }

  /** One SIDE's logical rows: the dir's rows minus that side's
    * deletion-vector keys — merge-on-read applied before the diff, so a
    * tombstoned key classifies exactly like a rewritten-away one.
    */
  private def viewRows(dir: String, tombs: Seq[String]): Iterator[InternalRow] = {
    // request PHYSICAL names (renamed columns live in files under
    // their birth name); the diff's indices stay logical positions
    val base = rawRows(dir, Tx.physSchema(schema, schema))
    if (tombs.isEmpty) base
    else {
      val dead = deadKeys(tombs)
      base.filterNot(r => dead.contains(keyOf(r)))
    }
  }

  // compact copies for storage/emission: UnsafeProjection materializes
  // any schema (nested included) into one contiguous buffer. ONE
  // instance serves both sides — the old side is fully materialized
  // (every output .copy()'d) before the new side streams, so the
  // reused buffer can never alias across them.
  private val proj = UnsafeProjection.create(schema)

  // the old side in task heap — the same order of memory the bucket
  // rewrite that produced it needed (nBuckets is the sizing dial); the
  // byte budget makes the does-not-fit case a NAMED error, not an OOM
  private val oldRows: java.util.HashMap[Seq[Any], UnsafeRow] = {
    val m = new java.util.HashMap[Seq[Any], UnsafeRow]()
    var bytes = 0L
    viewRows(part.oldDir, part.oldTombs).foreach { r =>
      val u = proj(r).copy()
      bytes += u.getSizeInBytes + 64L // entry + key overhead, roughly
      if (bytes > part.maxDiffBytes) throw new IllegalStateException(
        s"graft-tx: the old side of changed bucket '${part.oldDir}' " +
          s"exceeds the bucket-local diff's heap budget " +
          s"(${part.maxDiffBytes} bytes) — raise the table's nBuckets " +
          "so buckets fit in one task, raise " +
          "option(\"maxDiffBucketBytes\", n), or fall back to " +
          "Tx.changes' join-based diff")
      m.put(keyOf(u), u)
    }
    m
  }

  private val stamped = part.stampVersion.isDefined
  private val outWidth = n + (if (stamped) 2 else 1)

  private def out(r: InternalRow, label: String): InternalRow = {
    val vals = new Array[Any](outWidth)
    var i = 0
    while (i < n) {
      vals(i) = if (r.isNullAt(i)) null else r.get(i, schema(i).dataType)
      i += 1
    }
    vals(n) = UTF8String.fromString(label)
    if (stamped) vals(n + 1) = part.stampVersion.get
    new GenericInternalRow(vals)
  }

  private val newSide = viewRows(part.newDir, part.newTombs)
  private var deletes: Iterator[UnsafeRow] = _
  private var pending: InternalRow = _ // second row of a pre/post pair
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (pending != null) { current = pending; pending = null; return true }
    while (newSide.hasNext) {
      val nr = newSide.next() // a view — project before keeping
      val k = keyOf(nr)
      val or = oldRows.remove(k)
      if (or == null) {
        current = out(proj(nr).copy(), "insert"); return true
      }
      if (!sameNonKeys(or, nr)) {
        if (part.emitPre) {
          current = out(proj(nr).copy(), "update_post")
          pending = out(or, "update_pre")
        } else current = out(proj(nr).copy(), "update")
        return true
      } // unchanged re-landed row: compared out
    }
    if (deletes == null) {
      deletes = {
        import scala.jdk.CollectionConverters._
        oldRows.values().iterator().asScala
      }
    }
    if (deletes.hasNext) { current = out(deletes.next(), "delete"); true }
    else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
