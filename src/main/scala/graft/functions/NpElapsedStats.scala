package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.SqlBridge.AbstractDataType
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference's two per-group latency metrics — `np.mean(elapsed)` and
  * `np.percentile(elapsed, 90)` (calcular_kpi.py:36-44) — bit for bit,
  * from ONE primitive per-group buffer: `struct<mean: double, p90: double>`.
  *
  * Both metrics need the group's whole value list, like the reference's
  * per-group `elapsed` lists, and the mean needs it IN SCAN ORDER: numpy's
  * sum is order-dependent at the ulp, which decides `py_round` on a
  * 2-dp-midpoint cent. Partial buffers merge in shuffle-FETCH order, so
  * each row carries a stable file-order key `(input_file_name,
  * input_file_block_start, monotonically_increasing_id)`: within one scan
  * partition mono-id ascends in scan order, across partitions
  * (file, block_start) reconstructs file order regardless of Spark's
  * size-descending split packing, and for non-file inputs
  * (name = "", start = −1) the key degrades to mono-id = partition order.
  *
  * Buffer: per row a primitive `double` value, `long` mono-id and `int`
  * run index; a run is one distinct (file, block_start, scan partition)
  * — one task's read of one split — so the file path is stored once per
  * run, not once per row. ~20 serialized bytes per row.
  *
  * Eval: rank the runs by (file, block_start, partition), order the rows
  * by `rank << 33 | (monoId & (2^33 − 1))` — mono-id's low 33 bits are
  * the record number inside its partition, so this is exactly the
  * `(file, block_start, mono-id)` order — skipping the sort when the key
  * already ascends; then numpy's pairwise mean ([[npMean]]), then a
  * primitive sort and numpy's `_lerp` ([[npPercentile]]). Null values are
  * skipped; the three key children are never null.
  *
  * A `TypedImperativeAggregate` like [[BoundedCollectLongs]]: runs in
  * ObjectHashAggregateExec with map-side partials and survives its
  * sort-based fallback through [[serialize]]/[[deserialize]]. */
case class NpElapsedStats(
    value: Expression,
    file: Expression,
    blockStart: Expression,
    monoId: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[NpElapsedStats.Buffer]
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, StringType, LongType, LongType)
  override def children: Seq[Expression] = Seq(value, file, blockStart, monoId)
  override def nullable: Boolean = false
  override def dataType: DataType = NpElapsedStats.Schema
  override def prettyName: String = "np_elapsed_stats"

  override def createAggregationBuffer(): NpElapsedStats.Buffer = new NpElapsedStats.Buffer

  override def update(b: NpElapsedStats.Buffer, input: InternalRow): NpElapsedStats.Buffer = {
    val v = value.eval(input)
    if (v != null) {
      val mono = monoId.eval(input).asInstanceOf[Long]
      b.add(v.asInstanceOf[Double], mono, b.runOf(
        file.eval(input).asInstanceOf[UTF8String],
        blockStart.eval(input).asInstanceOf[Long],
        (mono >>> NpElapsedStats.RecordBits).toInt))
    }
    b
  }

  override def merge(b: NpElapsedStats.Buffer, other: NpElapsedStats.Buffer): NpElapsedStats.Buffer = {
    b.mergeIn(other)
    b
  }

  override def eval(b: NpElapsedStats.Buffer): Any = {
    val values = NpElapsedStats.scanOrdered(b)
    val mean = NpElapsedStats.npMean(values, b.size)
    java.util.Arrays.sort(values, 0, b.size)
    new GenericInternalRow(Array[Any](mean, NpElapsedStats.npPercentile(values, b.size, 0.9)))
  }

  override def serialize(b: NpElapsedStats.Buffer): Array[Byte] = {
    val files = b.runTable.map(_.file.getBytes)
    val bb = ByteBuffer.allocate(4 + files.map(_.length + 16).sum + 4 + 20 * b.size)
    bb.putInt(files.size)
    for ((run, f) <- b.runTable.zip(files))
      bb.putInt(f.length).put(f).putLong(run.block).putInt(run.pid)
    val n = b.size
    bb.putInt(n)
    bb.asDoubleBuffer().put(b.values, 0, n)
    bb.position(bb.position() + 8 * n)
    bb.asLongBuffer().put(b.monoIds, 0, n)
    bb.position(bb.position() + 8 * n)
    bb.asIntBuffer().put(b.runs, 0, n)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): NpElapsedStats.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new NpElapsedStats.Buffer
    for (_ <- 0 until bb.getInt) {
      val f = new Array[Byte](bb.getInt)
      bb.get(f)
      b.runTable += NpElapsedStats.Run(UTF8String.fromBytes(f), bb.getLong, bb.getInt)
    }
    val n = bb.getInt
    b.reserve(n)
    bb.asDoubleBuffer().get(b.values, 0, n)
    bb.position(bb.position() + 8 * n)
    bb.asLongBuffer().get(b.monoIds, 0, n)
    bb.position(bb.position() + 8 * n)
    bb.asIntBuffer().get(b.runs, 0, n)
    b.size = n
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): NpElapsedStats =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NpElapsedStats =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NpElapsedStats =
    copy(value = newChildren(0), file = newChildren(1),
      blockStart = newChildren(2), monoId = newChildren(3))
}

object NpElapsedStats {
  val Schema: StructType = StructType(Seq(
    StructField("mean", DoubleType, nullable = false),
    StructField("p90", DoubleType, nullable = false)))

  private val RecordBits = 33 // monotonically_increasing_id: partition << 33 | record
  private val RecordMask = (1L << RecordBits) - 1

  /** One task's read of one split: (file, block start, scan partition). */
  final case class Run(file: UTF8String, block: Long, pid: Int)

  /** Growable primitive row arrays plus the run table. */
  final class Buffer {
    var values: Array[Double] = new Array[Double](16)
    var monoIds: Array[Long] = new Array[Long](16)
    var runs: Array[Int] = new Array[Int](16)
    var size: Int = 0
    val runTable = scala.collection.mutable.ArrayBuffer.empty[Run]
    private var lastRun = -1

    /** Capacity for `extra` more rows. */
    def reserve(extra: Int): Unit =
      if (size + extra > values.length) {
        val cap = math.max(size + extra, values.length * 2)
        values = java.util.Arrays.copyOf(values, cap)
        monoIds = java.util.Arrays.copyOf(monoIds, cap)
        runs = java.util.Arrays.copyOf(runs, cap)
      }

    def add(v: Double, mono: Long, run: Int): Unit = {
      reserve(1)
      values(size) = v
      monoIds(size) = mono
      runs(size) = run
      size += 1
    }

    private def isRun(r: Int, f: UTF8String, block: Long, pid: Int): Boolean = {
      val run = runTable(r)
      run.block == block && run.pid == pid && run.file == f
    }

    /** Index of the run (f, block, pid), added if new. Consecutive rows
      * of a task share their run, so the last hit is checked first. `f`
      * may point into a reused row, so a new run keeps a copy. */
    def runOf(f: UTF8String, block: Long, pid: Int): Int = {
      if (lastRun < 0 || !isRun(lastRun, f, block, pid)) {
        lastRun = runTable.indices.find(isRun(_, f, block, pid)).getOrElse {
          runTable += Run(f.clone(), block, pid)
          runTable.size - 1
        }
      }
      lastRun
    }

    def mergeIn(o: Buffer): Unit = {
      val remap = o.runTable.map(r => runOf(r.file, r.block, r.pid))
      reserve(o.size)
      System.arraycopy(o.values, 0, values, size, o.size)
      System.arraycopy(o.monoIds, 0, monoIds, size, o.size)
      var i = 0
      while (i < o.size) { runs(size + i) = remap(o.runs(i)); i += 1 }
      size += o.size
    }
  }

  /** A copy of the buffer's values in `(file, block_start, mono-id)` order.
    * The sort key is unique per row — mono-id is unique, and its record
    * bits already are within one partition — so each row's position is
    * its key's index in the sorted keys. */
  private def scanOrdered(b: Buffer): Array[Double] = {
    val byKey = b.runTable.indices.sortWith { (x, y) =>
      val (rx, ry) = (b.runTable(x), b.runTable(y))
      val c = rx.file.compareTo(ry.file)
      if (c != 0) c < 0
      else if (rx.block != ry.block) rx.block < ry.block
      else rx.pid < ry.pid
    }
    val rank = new Array[Long](byKey.size)
    byKey.zipWithIndex.foreach { case (r, k) => rank(r) = k.toLong << RecordBits }
    val n = b.size
    val keys = new Array[Long](n)
    var ascending = true
    var i = 0
    while (i < n) {
      keys(i) = rank(b.runs(i)) | (b.monoIds(i) & RecordMask)
      if (i > 0 && keys(i) < keys(i - 1)) ascending = false
      i += 1
    }
    if (ascending) return java.util.Arrays.copyOf(b.values, n)
    val sorted = keys.clone()
    java.util.Arrays.sort(sorted)
    val values = new Array[Double](n)
    i = 0
    while (i < n) { values(java.util.Arrays.binarySearch(sorted, keys(i))) = b.values(i); i += 1 }
    values
  }

  private val PwBlocksize = 128
  private val BufSize = 8192 // NPY_BUFSIZE: nditer buffer block length

  /** numpy pairwise_sum_DOUBLE over a[off until off+n). */
  private def pairwiseSum(a: Array[Double], off: Int, n: Int): Double =
    if (n < 8) {
      var res = 0.0
      var i = 0
      while (i < n) { res += a(off + i); i += 1 }
      res
    } else if (n <= PwBlocksize) {
      val r = new Array[Double](8)
      var k = 0
      while (k < 8) { r(k) = a(off + k); k += 1 }
      val lim = n - (n % 8)
      var i = 8
      while (i < lim) {
        var j = 0
        while (j < 8) { r(j) += a(off + i + j); j += 1 }
        i += 8
      }
      var res = ((r(0) + r(1)) + (r(2) + r(3))) + ((r(4) + r(5)) + (r(6) + r(7)))
      while (i < n) { res += a(off + i); i += 1 }
      res
    } else {
      var n2 = n / 2
      n2 -= n2 % 8
      pairwiseSum(a, off, n2) + pairwiseSum(a, off + n2, n - n2)
    }

  /** Bit-exact `np.mean(a[0 until n])` — the reference's avg contract
    * (calcular_kpi.py:36-37). numpy's mean is `add.reduce / n`, and
    * `add.reduce` is PAIRWISE summation (numpy 1.26 `pairwise_sum_DOUBLE`,
    * umath/loops.c.src) run per 8192-element nditer buffer block,
    * accumulated linearly across blocks — usually within an ulp of the
    * true sum but not equal to it (round-13 parity catch: 64 values whose
    * exact mean is 373.045 sum to 373.04499999999996, which the reference
    * prints as 373.04). Per block:
    *  - n < 8: naive left fold from 0.0;
    *  - n ≤ 128: 8 running accumulators seeded from the first 8 values,
    *    tree-combined `((r0+r1)+(r2+r3))+((r4+r5)+(r6+r7))`, scalar tail;
    *  - n > 128: split n2 = n/2 rounded down to a multiple of 8, recurse.
    * Order matters: feed the values in the reference's read order. Empty
    * → 0.0, the reference's empty-group guard. */
  def npMean(a: Array[Double], n: Int): Double = {
    if (n == 0) return 0.0
    var res = 0.0
    var off = 0
    while (off < n) {
      val m = math.min(BufSize, n - off)
      res += pairwiseSum(a, off, m)
      off += m
    }
    res / n
  }

  /** Bit-exact `np.percentile(sorted[0 until n], 100·p, method="linear")`
    * over ASCENDING values — the reference's p90 contract
    * (calcular_kpi.py:39-44).
    *
    * Three linear-interpolation formulas are floating around and they
    * differ at the last ULP:
    *  - numpy `_lerp` (lib/function_base.py): `a + (b−a)·t` for t < 0.5
    *    but `b − (b−a)·(1−t)` for t ≥ 0.5 — replayed here;
    *  - DuckDB's `quantile_cont`: `(1−t)·a + t·b` (two products);
    *  - Spark's builtin `Percentile`: a duplicate short-circuit, else an
    *    INTEGER-anchored two-product form (see [[graft.OracleSql]], which
    *    replays it for the cross-engine oracles).
    * The difference is invisible until an interpolated value lands exactly
    * on a 2-decimal rounding midpoint; then `py_round` flips the printed
    * digit (observed live: lo=746.21, hi=746.66, t=0.1 → numpy
    * 746.25499…994 rounds to 746.25, two-product 746.25500…001 to 746.26).
    * Empty → 0.0, the reference's empty-group guard. */
  def npPercentile(sorted: Array[Double], n: Int, p: Double): Double = {
    if (n == 0) return 0.0
    // virtual index (n−1)·p: the same double product as numpy's
    // `quantiles * (n - 1)` (IEEE multiply is commutative)
    val pos = (n - 1).toDouble * p
    val i = math.floor(pos).toInt
    val t = pos - math.floor(pos)
    val a = sorted(i)
    val b = sorted(math.min(i + 1, n - 1))
    if (t >= 0.5) b - (b - a) * (1.0 - t) else a + (b - a) * t
  }

  /** Column API: `np_elapsed_stats(value, input_file_name,
    * input_file_block_start, monotonically_increasing_id)`. The key
    * columns are nondeterministic, so callers project them BEFORE the
    * aggregate (Catalyst rejects them inside aggregate arguments). */
  def npElapsedStats(value: Column, file: Column, blockStart: Column, monoId: Column): Column = {
    import org.apache.spark.sql.graftbridge.SqlBridge
    SqlBridge.column(NpElapsedStats(SqlBridge.expression(value), SqlBridge.expression(file),
      SqlBridge.expression(blockStart), SqlBridge.expression(monoId)).toAggregateExpression())
  }
}
