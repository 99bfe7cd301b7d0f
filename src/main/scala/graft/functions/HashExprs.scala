package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.util.hashing.MurmurHash3

/** Custom Catalyst expressions for the dedup / similarity operators
  * (SURVEY.md §7.4): single-pass per-row kernels that would otherwise need
  * either a Scala UDF (no Catalyst visibility, boxing) or a 64-way explode
  * (a shuffle-volume disaster at 100 TB). Each is deterministic (fixed
  * seeds), null-safe, and operates on Spark's internal row format directly
  * (UTF8String / ArrayData — no conversion to java.lang.String collections).
  *
  * Every expression implements doGenCode: generated code calls a static
  * Scala kernel (object static forwarders), so the expression stays inside
  * the surrounding whole-stage with no interpreted dispatch or boxing.
  */
object HashExprs {

  /** Deterministic 64-bit string hash: two 32-bit murmur3 passes with
    * different seeds. Stable across JVMs (unlike Object.hashCode on
    * non-String) and across Spark versions (unlike internal XXH64 wiring).
    */
  @inline def hash64(s: UTF8String, seed: Int): Long = {
    val bytes = s.getBytes
    val h1 = MurmurHash3.bytesHash(bytes, seed)
    val h2 = MurmurHash3.bytesHash(bytes, seed ^ 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Static kernel (Scala objects emit static forwarders, so generated
    * Java calls `HashExprs.simhashKernel(arr)` directly). */
  def simhashKernel(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = hash64(arr.getUTF8String(i), 0x9747b28c)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** 64-bit SimHash over a token array (Charikar 2002, "Similarity
    * estimation techniques from rounding algorithms"): each token votes
    * ±1 per bit of its 64-bit hash; the signature is the sign vector.
    * Near-duplicate docs differ in few bits (small Hamming distance).
    * Codegen emits a call to the static kernel, keeping the expression
    * inside the surrounding whole-stage instead of interpreted fallback.
    */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      simhashKernel(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExprs.simhashKernel($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit md5 token hash: the value of the first 15 hex digits of
    * md5(token) — bit-identical to SQL's
    * conv(substring(md5(tok), 1, 15), 16, 10), i.e. the top 60 bits of
    * the big-endian digest. */
  def md5Hash60(s: UTF8String): Long = {
    val md = md5Local.get(); md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** SimHash over md5-derived 60-bit token hashes: one digest per token
    * OCCURRENCE (frequency-weighted voting), strict votes>0 sign rule —
    * the same function [[graft.operators.Dedup.simhashDetPairs]]
    * computes relationally, collapsed to one codegen'd pass per row (no
    * ×60 token fan-out, nothing but the final signature crosses any
    * shuffle). Because the hash is md5, the signature replays
    * bit-for-bit in any engine — this is the registered dedup_simhash
    * path: the production execution shape AND oracle-checkable. */
  def simhashMd5Kernel(arr: ArrayData): Long = {
    val votes = new Array[Int](60)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = md5Hash60(arr.getUTF8String(i))
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  private val detSignCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Integer]

  /** md5-Rademacher sign for LSH plane (t, p) at dimension `dim`: +1
    * iff the first hex digit of md5("t:p:dim") is >= '8' (top bit of
    * the first digest byte) — identical to the SQL replay's
    * substring(md5(...), 1, 1) >= '8' test. The tiny tables×bits×d
    * sign space is memoized per JVM (each triple digests once). */
  def detSign(t: Int, p: Int, dim: Int): Int = {
    require(dim < 16384 && p < 64 && t < 2048,
      s"det-LSH sign key would collide: t=$t p=$p dim=$dim")
    val key = Integer.valueOf((t << 20) | (p << 14) | dim)
    var s = detSignCache.get(key)
    if (s == null) {
      val md = md5Local.get(); md.reset()
      val d = md.digest(
        (t.toString + ":" + p.toString + ":" + dim.toString)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s = Integer.valueOf(if ((d(0) & 0x80) != 0) 1 else -1)
      detSignCache.put(key, s)
    }
    s.intValue()
  }

  private val detSignArrays =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Array[Int]]

  /** Flat (table, plane, dim) sign array for one (bits, tables, dims)
    * geometry, memoized per JVM — the per-row kernel indexes this
    * instead of hashing a boxed key per (dim × table × plane)
    * element. */
  private def detSignArray(bits: Int, tables: Int,
                           dims: Int): Array[Int] = {
    val key = java.lang.Long.valueOf(
      (bits.toLong << 40) | (tables.toLong << 20) | dims.toLong)
    var a = detSignArrays.get(key)
    if (a == null) {
      a = new Array[Int](tables * bits * dims)
      var t = 0
      while (t < tables) {
        var p = 0
        while (p < bits) {
          var i = 0
          while (i < dims) {
            a((t * bits + p) * dims + i) = detSign(t, p, i)
            i += 1
          }
          p += 1
        }
        t += 1
      }
      detSignArrays.put(key, a)
    }
    a
  }

  /** Per-table det-LSH bucket assignment, one pass per row: coordinate
    * i snaps to the integer micro-unit floor(x·1e6 + 0.5), each
    * (table, plane) accumulates the exact integer dot against the
    * [[detSign]] Rademacher direction, and table t's bucket is its
    * sign word. Element t of the result is table t's bucket —
    * bit-identical to the relational/SQL form (integer addition is
    * order-free), at none of its docs×dims×planes shuffle cost. */
  def detLshBucketsKernel(arr: ArrayData, bits: Int,
                          tables: Int): ArrayData = {
    val n = arr.numElements()
    // the DuckDB replays index dimensions via range(1, 4097): fail
    // loudly rather than silently diverge on a wider embedding
    require(n <= 4096,
      s"det-LSH oracle replay caps dimensions at 4096, got $n")
    val planes = tables * bits
    val signs = detSignArray(bits, tables, n)
    val dots = new Array[Long](planes)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val xi = math.floor(arr.getDouble(i) * 1000000.0 + 0.5).toLong
        if (xi != 0L) {
          var pl = 0
          while (pl < planes) {
            dots(pl) += signs(pl * n + i) * xi
            pl += 1
          }
        }
      }
      i += 1
    }
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < bits) {
        if (dots(t * bits + p) >= 0L) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  case class DetLshBuckets(child: Expression, bits: Int, tables: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      detLshBucketsKernel(input.asInstanceOf[ArrayData], bits, tables)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExprs.detLshBucketsKernel($c, $bits, $tables)")
    override protected def withNewChildInternal(c: Expression): DetLshBuckets =
      copy(child = c)
  }

  case class SimHashMd560(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      simhashMd5Kernel(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExprs.simhashMd5Kernel($c)")
    override protected def withNewChildInternal(c: Expression): SimHashMd560 =
      copy(c)
  }

  /** Distinct word n-gram shingles over a token array, in first-occurrence
    * order (array_distinct semantics), as one pass over the internal row —
    * the higher-order-function formulation (sequence + transform +
    * concat_ws + array_distinct) allocates per element and re-dispatches
    * per lambda call; this is the single hot kernel under both dedup
    * candidate generators. */
  /** Static kernel for shingling (see simhashKernel for the codegen path). */
  def shinglesKernel(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    val cnt = len - (n - 1)
    if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String](cnt * 2)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < cnt) {
      var k = 0
      while (k < n) { window(k) = arr.getUTF8String(i + k); k += 1 }
      seen.add(UTF8String.concatWs(sep, window: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  case class NgramShingles(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      shinglesKernel(input.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExprs.shinglesKernel($c, $n)")
    override protected def withNewChildInternal(c: Expression): NgramShingles =
      copy(child = c)
  }

  /** Static kernel for MinHash (see simhashKernel for the codegen path). */
  def minhashKernel(arr: ArrayData, numPerms: Int): ArrayData = {
    val sig = Array.fill(numPerms)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        var p = 0
        while (p < numPerms) {
          val h = hash64(s, p)
          if (h < sig(p)) sig(p) = h
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** MinHash signature (Broder 1997, "On the resemblance and containment of
    * documents"): element i is min over shingles of hash64(shingle, seed=i).
    * E[fraction of matching positions] = Jaccard similarity of shingle sets.
    */
  case class MinHashSignature(child: Expression, numPerms: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      minhashKernel(input.asInstanceOf[ArrayData], numPerms)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExprs.minhashKernel($c, $numPerms)")
    override protected def withNewChildInternal(c: Expression): MinHashSignature =
      copy(child = c)
  }

  /** Exact integer dot product of two BIGINT arrays, summed over the
    * shorter length — the codegen'd kernel under every micro-unit
    * q×n similarity scan. MIN-LENGTH IS THE CONTRACT, not an accident:
    * the Matryoshka funnel scores an m-wide query prefix against the
    * full candidate array, so the prefix dot IS the min-length sum.
    * Callers with equal-width inputs must guarantee the widths
    * upstream (every current site does — prefix arrays are cut from
    * one `xs` column); a ragged pair here yields a truncated dot, not
    * null, unlike the zip_with form this replaced. Semantically
    * identical (on equal/prefix widths) to
    * `aggregate(zip_with(a, b, (x, y) -> x*y), 0L, (s, x) -> s + x)`
    * but that higher-order-function chain is INTERPRETED per row and
    * allocates a zipped array per pair — at a 500k-corpus × 40-query
    * scan (20M pairs) the allocation/GC wall made the Matryoshka
    * funnel's last ladder decade superlinear (1.78 s → 54.8 s for 10×
    * rows, SCALE_r13_emb). This loop inlines into whole-stage codegen
    * like [[CosineSim]]: zero allocation, exponent restored to ~linear.
    */
  case class DotI64(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var dot = 0L
      var i = 0
      while (i < n) { dot += a.getLong(i) * b.getLong(i); i += 1 }
      dot
    }
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |long ${ev.value}_acc = 0L;
        |for (int $i = 0; $i < $n; $i++) {
        |  ${ev.value}_acc += $a.getLong($i) * $b.getLong($i);
        |}
        |${ev.value} = ${ev.value}_acc;
        """.stripMargin
      })
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): DotI64 = copy(left = l, right = r)
  }

  /** Static kernel: det-PQ code vector of one embedding against a flat
    * collected codebook — codes[j] = the 1-based codeword minimizing
    * the exact integer squared distance Σ_{d∈subspace j} (xi_d − ci)²
    * over micro-units xi = floor(x·10⁶ + 0.5), ties to the smallest
    * codeword. Bit-identical to the relational encode
    * (detPqDims ⋈ codebook → groupBy ssd → argmin window) that it
    * replaces on the candidate side: that chain exploded n×dims rows,
    * fanned them ×ks through the codebook join (512M rows at the
    * 500k-vector ladder rung) and windowed 64M groups — linear in n
    * but spill-bound at depth (last-decade exponent 1.38,
    * SCALE_r13_emb). One codegen'd pass per row, codebook as a ~1 KB
    * plan reference object. */
  def pqEncodeKernel(arr: ArrayData, cb: Array[Long], ks: Int,
                     cbDims: Int): ArrayData = {
    val n = math.min(arr.numElements(), cbDims)
    val xi = new Array[Long](n)
    var d = 0
    while (d < n) {
      xi(d) = math.floor(arr.getDouble(d) * 1000000.0 + 0.5).toLong
      d += 1
    }
    pqArgminCodes(xi, n, cb, ks, cbDims)
  }

  /** Static kernel: RESIDUAL det-PQ code vector — xi is the vector's
    * exact integer residual against its home-cell centroid (xi_d =
    * floor(x_d·10⁶ + 0.5) − ci[cell][d], the FAISS IVF-PQ encode),
    * then the same argmin-ssd codeword search as [[pqEncodeKernel]]
    * against a RESIDUAL codebook. `cells`/`plane` are the collected
    * coarse quantizer (sorted cell ids + row-major centroid
    * micro-units, stride `cbDims`) riding the plan as reference
    * objects — index metadata, same shape the streaming ingest
    * broadcasts. Bit-identical to the relational residual encode
    * (dims ⋈ home ⋈ centroids → ×ks codebook join → argmin window)
    * it replaces, which fanned n×dims×ks rows through a 64M-group
    * window at the 500k ladder rung — the same defect the plain-PQ
    * kernel killed in r13. */
  def pqEncodeResidKernel(arr: ArrayData, cell: Long, cells: Array[Long],
                          plane: Array[Long], cb: Array[Long], ks: Int,
                          cbDims: Int): ArrayData = {
    val ci = java.util.Arrays.binarySearch(cells, cell)
    if (ci < 0)
      throw new IllegalArgumentException(
        s"residual encode: home cell $cell not in the centroid plane " +
          s"(${cells.length} cells) — index relations out of sync")
    val n = math.min(arr.numElements(), cbDims)
    val xi = new Array[Long](n)
    val off = ci * cbDims
    var d = 0
    while (d < n) {
      xi(d) = math.floor(arr.getDouble(d) * 1000000.0 + 0.5).toLong -
        plane(off + d)
      d += 1
    }
    pqArgminCodes(xi, n, cb, ks, cbDims)
  }

  /** Static kernel: the `nprobe` nearest det-IVF cells of one
    * embedding against the collected coarse-quantizer plane, in rank
    * order — the integer affinity ranking bp = floor(10⁴·dot/(√nv·√nc))
    * with ties to the smallest cell and the zero-norm guard (bp = 0),
    * bit-identical to the relational rank chain the det-IVF oracles
    * replay (dims ⋈ centroids → dots → window). The one det-IVF cell
    * ranking: index builds, batch serves and the streaming assignment
    * and probe (AnnIngest) all call it via Ann.kernelCells. `cells`
    * ascending (the scan order IS the tie rule: a strictly-greater
    * compare keeps the earlier = smaller cell on equal affinity);
    * `plane` row-major with stride `dims`; `nc` the precomputed Σci²
    * per cell. */
  def detIvfCellsKernel(arr: ArrayData, cells: Array[Long],
                        plane: Array[Long], nc: Array[Long], dims: Int,
                        nprobe: Int): ArrayData = {
    val n = math.min(arr.numElements(), dims)
    val xi = new Array[Long](n)
    var nv = 0L
    var d = 0
    while (d < n) {
      val s = math.floor(arr.getDouble(d) * 1000000.0 + 0.5).toLong
      xi(d) = s
      nv += s * s
      d += 1
    }
    val m = math.min(nprobe, cells.length)
    val bp = Array.fill(m)(Long.MinValue)
    val bc = new Array[Long](m)
    var c = 0
    while (c < cells.length) {
      val off = c * dims
      var dot = 0L
      var j = 0
      while (j < n) { dot += xi(j) * plane(off + j); j += 1 }
      val v =
        if (nv > 0 && nc(c) > 0)
          math.floor(10000.0 * dot /
            (math.sqrt(nv.toDouble) * math.sqrt(nc(c).toDouble))).toLong
        else 0L
      var i = 0
      while (i < m && v <= bp(i)) i += 1
      if (i < m) {
        var k = m - 1
        while (k > i) { bp(k) = bp(k - 1); bc(k) = bc(k - 1); k -= 1 }
        bp(i) = v
        bc(i) = cells(c)
      }
      c += 1
    }
    val out = new Array[Any](m)
    var i = 0
    while (i < m) { out(i) = bc(i); i += 1 }
    new GenericArrayData(out)
  }

  /** [[detIvfCellsKernel]] as a codegen'd expression — replaces the
    * full-corpus dots-shuffle + rank-window pair (n×nlist exploded
    * rows through a per-id window) with one map pass per row; the
    * plane rides the plan as reference objects (IndexedSeq fields for
    * value equality, as [[PqEncodeI64]]). */
  case class DetIvfCellsI64(child: Expression, cells: IndexedSeq[Long],
                            plane: IndexedSeq[Long], nc: IndexedSeq[Long],
                            dims: Int, nprobe: Int)
      extends UnaryExpression {
    require(dims > 0 && nprobe > 0 && plane.length == cells.length * dims
      && nc.length == cells.length,
      s"plane shape mismatch: ${cells.length} cells × $dims dims vs " +
        s"plane=${plane.length}, nc=${nc.length}")
    @transient private lazy val cellsArr: Array[Long] = cells.toArray
    @transient private lazy val planeArr: Array[Long] = plane.toArray
    @transient private lazy val ncArr: Array[Long] = nc.toArray
    override def dataType: DataType = ArrayType(LongType, false)
    override def nullSafeEval(input: Any): Any =
      detIvfCellsKernel(input.asInstanceOf[ArrayData], cellsArr,
        planeArr, ncArr, dims, nprobe)
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val cellsRef = ctx.addReferenceObj("ivfCells", cellsArr, "long[]")
      val planeRef = ctx.addReferenceObj("ivfPlane", planeArr, "long[]")
      val ncRef = ctx.addReferenceObj("ivfNc", ncArr, "long[]")
      defineCodeGen(ctx, ev, v =>
        s"graft.functions.HashExprs.detIvfCellsKernel($v, $cellsRef, " +
          s"$planeRef, $ncRef, $dims, $nprobe)")
    }
    override protected def withNewChildInternal(
        c: Expression): DetIvfCellsI64 = copy(child = c)
  }

  /** Static kernel: the flat residual ADC LUT of one query vector
    * against one probed cell — lut[j·ks + cw−1] = Σ_{d∈subspace j}
    * (ri_d − cb[cw][d])² over the exact integer residual ri = xi −
    * ci[cell], i.e. the (j asc, cw asc)-ordered array the relational
    * qrd ⋈ codebook → groupBy ssd → collect_list chain produced,
    * computed in one map pass per (query, probed cell) row. */
  def pqLutResidKernel(arr: ArrayData, cell: Long, cells: Array[Long],
                       plane: Array[Long], cb: Array[Long], ks: Int,
                       cbDims: Int): ArrayData = {
    val ci = java.util.Arrays.binarySearch(cells, cell)
    if (ci < 0)
      throw new IllegalArgumentException(
        s"residual LUT: probed cell $cell not in the centroid plane " +
          s"(${cells.length} cells) — index relations out of sync")
    val n = math.min(arr.numElements(), cbDims)
    val ri = new Array[Long](n)
    val off = ci * cbDims
    var d = 0
    while (d < n) {
      ri(d) = math.floor(arr.getDouble(d) * 1000000.0 + 0.5).toLong -
        plane(off + d)
      d += 1
    }
    val m = (n + 7) / 8
    val out = new Array[Any](m * ks)
    var j = 0
    while (j < m) {
      var cw = 0
      while (cw < ks) {
        var ssd = 0L
        var dd = j * 8
        val end = math.min(dd + 8, n)
        val cwOff = cw * cbDims
        while (dd < end) {
          val diff = ri(dd) - cb(cwOff + dd)
          ssd += diff * diff
          dd += 1
        }
        out(j * ks + cw) = ssd
        cw += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** [[pqLutResidKernel]] as a codegen'd expression over (vec, cell) —
    * reference-object plumbing identical to [[PqEncodeResidI64]]. */
  case class PqLutResidI64(left: Expression, right: Expression,
                           cells: IndexedSeq[Long],
                           plane: IndexedSeq[Long], cb: IndexedSeq[Long],
                           ks: Int, cbDims: Int)
      extends BinaryExpression {
    require(ks > 0 && cbDims > 0 && cb.length == ks * cbDims,
      s"codebook shape mismatch: ks=$ks dims=$cbDims len=${cb.length}")
    require(plane.length == cells.length * cbDims,
      s"centroid plane shape mismatch: ${cells.length} cells × $cbDims" +
        s" dims != ${plane.length}")
    @transient private lazy val cellsArr: Array[Long] = cells.toArray
    @transient private lazy val planeArr: Array[Long] = plane.toArray
    @transient private lazy val cbArr: Array[Long] = cb.toArray
    override def dataType: DataType = ArrayType(LongType, false)
    override def nullSafeEval(vec: Any, cell: Any): Any =
      pqLutResidKernel(vec.asInstanceOf[ArrayData],
        cell.asInstanceOf[Long], cellsArr, planeArr, cbArr, ks, cbDims)
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val cellsRef = ctx.addReferenceObj("lutCells", cellsArr, "long[]")
      val planeRef = ctx.addReferenceObj("lutPlane", planeArr, "long[]")
      val cbRef = ctx.addReferenceObj("lutCb", cbArr, "long[]")
      defineCodeGen(ctx, ev, (v, c) =>
        s"graft.functions.HashExprs.pqLutResidKernel($v, $c, " +
          s"$cellsRef, $planeRef, $cbRef, $ks, $cbDims)")
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): PqLutResidI64 =
      copy(left = l, right = r)
  }

  /** Shared argmin-ssd codeword search over already-materialized
    * integer coordinates (raw micro-units or residuals): ties to the
    * smallest codeword, exactly the relational
    * orderBy(ssd asc, cw asc) window both encode forms replay. */
  private def pqArgminCodes(xi: Array[Long], n: Int, cb: Array[Long],
                            ks: Int, cbDims: Int): ArrayData = {
    val m = (n + 7) / 8
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      var bestCw = 1L
      var bestSsd = Long.MaxValue
      var cw = 0
      while (cw < ks) {
        var ssd = 0L
        var dd = j * 8
        val end = math.min(dd + 8, n)
        val off = cw * cbDims
        while (dd < end) {
          val diff = xi(dd) - cb(off + dd)
          ssd += diff * diff
          dd += 1
        }
        if (ssd < bestSsd) { bestSsd = ssd; bestCw = cw + 1L }
        cw += 1
      }
      out(j) = bestCw
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Static kernel: exact integer ADC over the wide PQ layout —
    * adc = Σ_j lut[j·m + codes[j] − 1] with 1-based codewords (the
    * element_at convention of the relational form it replaces). m is
    * recovered from the array sizes so undersized codebooks stay
    * correct. A codes/LUT shape mismatch (codes encoded against a
    * different codebook size than the query LUT) fails loudly with a
    * shape message instead of reading a wrong LUT entry — the old
    * element_at form returned NULL there, which hid the index
    * corruption the mismatch implies. */
  def adcKernel(codes: ArrayData, lut: ArrayData): Long = {
    val nj = codes.numElements()
    if (nj == 0) return 0L
    val nl = lut.numElements()
    val m = nl / nj
    var adc = 0L
    var j = 0
    while (j < nj) {
      // validate the CODE, not just the final LUT offset: a corrupt
      // codeword in a non-last subspace lands inside the NEXT
      // subspace's LUT block and a whole-LUT bounds check would
      // silently read it — every codeword must be in [1, m]
      val cw = codes.getLong(j)
      if (cw < 1L || cw > m)
        throw new IllegalArgumentException(
          s"ADC shape mismatch: codes[$j]=$cw outside [1, $m] over a " +
            s"$nl-entry LUT ($nj subspaces, m=$m) — codes and LUT were " +
            "built against different codebooks")
      adc += lut.getLong(j * m + cw.toInt - 1)
      j += 1
    }
    adc
  }

  /** [[adcKernel]] as a codegen'd expression — the previous
    * aggregate(transform(codes, element_at(lut, …))) chain was
    * interpreted per pair and allocated a transformed array each time;
    * on the q×n ADC scan (20M pairs at the 500k ladder rung) the
    * interpreter, not the arithmetic, was the cost. Same integer sum,
    * same oracle. */
  case class AdcI64(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(l: Any, r: Any): Any =
      adcKernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.HashExprs.adcKernel($a, $b)")
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): AdcI64 = copy(left = l, right = r)
  }

  /** Static kernel: exact integer SQ8 asymmetric distance —
    * Σ_i (lut[i] − codes[i]·scl[i])² over the shorter length (the
    * zip convention of the relational form it replaces). */
  def sq8AdcKernel(codes: ArrayData, lut: ArrayData,
                   scl: ArrayData): Long = {
    val n = math.min(codes.numElements(),
      math.min(lut.numElements(), scl.numElements()))
    var adc = 0L
    var i = 0
    while (i < n) {
      val d = lut.getLong(i) - codes.getLong(i) * scl.getLong(i)
      adc += d * d
      i += 1
    }
    adc
  }

  /** [[sq8AdcKernel]] as a codegen'd expression — same
    * interpreted-HOF-on-the-hot-scan story as [[AdcI64]]. */
  case class Sq8AdcI64(codes: Expression, lut: Expression,
                       scl: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def first: Expression = codes
    override def second: Expression = lut
    override def third: Expression = scl
    override def dataType: DataType = LongType
    override def nullSafeEval(c: Any, l: Any, s: Any): Any =
      sq8AdcKernel(c.asInstanceOf[ArrayData], l.asInstanceOf[ArrayData],
        s.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (c, l, s) =>
        s"graft.functions.HashExprs.sq8AdcKernel($c, $l, $s)")
    override protected def withNewChildrenInternal(
        c: Expression, l: Expression, s: Expression): Sq8AdcI64 =
      copy(codes = c, lut = l, scl = s)
  }

  /** [[pqEncodeKernel]] as a codegen'd expression over the raw
    * double-array embedding column. The codebook is held as an
    * IndexedSeq so case-class equality is VALUE equality — an
    * Array[Long] field compares by reference, which defeats expression
    * canonicalization / common-subexpression elimination and makes
    * checkpointed plan comparisons unstable; the flat long[] the
    * kernel wants is derived once per task. */
  case class PqEncodeI64(child: Expression, cb: IndexedSeq[Long], ks: Int,
                         cbDims: Int) extends UnaryExpression {
    require(ks > 0 && cbDims > 0 && cb.length == ks * cbDims,
      s"codebook shape mismatch: ks=$ks dims=$cbDims len=${cb.length}")
    @transient private lazy val flat: Array[Long] = cb.toArray
    override def dataType: DataType = ArrayType(LongType, false)
    override def nullSafeEval(input: Any): Any =
      pqEncodeKernel(input.asInstanceOf[ArrayData], flat, ks, cbDims)
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqcb", flat, "long[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExprs.pqEncodeKernel($c, $ref, $ks, $cbDims)")
    }
    override protected def withNewChildInternal(c: Expression): PqEncodeI64 =
      copy(child = c)
  }

  /** [[pqEncodeResidKernel]] as a codegen'd expression over the raw
    * embedding column and its home-cell column; the coarse-quantizer
    * plane and the residual codebook ride the plan as reference
    * objects (IndexedSeq fields for value equality, as
    * [[PqEncodeI64]]). */
  case class PqEncodeResidI64(left: Expression, right: Expression,
                              cells: IndexedSeq[Long],
                              plane: IndexedSeq[Long],
                              cb: IndexedSeq[Long], ks: Int,
                              cbDims: Int) extends BinaryExpression {
    require(ks > 0 && cbDims > 0 && cb.length == ks * cbDims,
      s"codebook shape mismatch: ks=$ks dims=$cbDims len=${cb.length}")
    require(plane.length == cells.length * cbDims,
      s"centroid plane shape mismatch: ${cells.length} cells × $cbDims" +
        s" dims != ${plane.length}")
    @transient private lazy val cellsArr: Array[Long] = cells.toArray
    @transient private lazy val planeArr: Array[Long] = plane.toArray
    @transient private lazy val cbArr: Array[Long] = cb.toArray
    override def dataType: DataType = ArrayType(LongType, false)
    override def nullSafeEval(vec: Any, cell: Any): Any =
      pqEncodeResidKernel(vec.asInstanceOf[ArrayData],
        cell.asInstanceOf[Long], cellsArr, planeArr, cbArr, ks, cbDims)
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val cellsRef = ctx.addReferenceObj("residCells", cellsArr, "long[]")
      val planeRef = ctx.addReferenceObj("residPlane", planeArr, "long[]")
      val cbRef = ctx.addReferenceObj("residCb", cbArr, "long[]")
      defineCodeGen(ctx, ev, (v, c) =>
        s"graft.functions.HashExprs.pqEncodeResidKernel($v, $c, " +
          s"$cellsRef, $planeRef, $cbRef, $ks, $cbDims)")
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): PqEncodeResidI64 =
      copy(left = l, right = r)
  }

  /** Cosine similarity between two double arrays, accumulated in double in
    * array order (bit-reproducible against any engine that does the same).
    * Returns null on dimension mismatch or zero-norm input.
    *
    * This runs once per candidate PAIR (millions of calls with a short
    * kernel), so the loop is inlined into the generated code directly
    * rather than behind a kernel call.
    */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != b.numElements()) return null
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a.getDouble(i); val y = b.getDouble(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) null
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        s"""
        |int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    double $x = $a.getDouble($i);
        |    double $y = $b.getDouble($i);
        |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        |  }
        |  if ($na == 0.0 || $nb == 0.0) {
        |    ${ev.isNull} = true;
        |  } else {
        |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        |  }
        |}
        """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(left = l, right = r)
  }

  /** Static kernel: sign-bit hyperplane bucket in ONE pass over the
    * vector — bits x dim multiply-adds with no per-plane array
    * allocation. Bit b is set when the (array-order) dot with plane b is
    * >= 0: byte-identical to the higher-order-function formulation it
    * replaces (aggregate over zip_with per plane), which re-materialized
    * the zipped array and re-dispatched two lambdas per element PER
    * PLANE — the hot kernel under every LSH family. */
  def hyperplaneKernel(arr: ArrayData, planes: Array[Array[Double]]): Int = {
    var bucket = 0
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      var dot = 0.0
      val n = math.min(arr.numElements(), p.length)
      var i = 0
      while (i < n) { dot += arr.getDouble(i) * p(i); i += 1 }
      if (dot >= 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }

  /** Sign-bit LSH bucket id over a fixed hyperplane set (embedded in the
    * plan as a codegen reference object — the planes ride the serialized
    * expression to executors, not a join). */
  case class HyperplaneBucket(child: Expression,
                              planes: Array[Array[Double]])
      extends UnaryExpression {
    require(planes.nonEmpty && planes.length <= 30,
      s"1..30 planes required, got ${planes.length}")
    override def dataType: DataType = IntegerType
    override def nullSafeEval(input: Any): Any =
      hyperplaneKernel(input.asInstanceOf[ArrayData], planes)
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("planes", planes, "double[][]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExprs.hyperplaneKernel($c, $ref)")
    }
    override protected def withNewChildInternal(c: Expression): HyperplaneBucket =
      copy(child = c)
  }

  /** Static kernel: Unicode code points of a string, one INT per code
    * point (surrogate pairs collapse to one element) — the exact value
    * sequence DuckDB's `unicode(c)` yields per extracted character, so
    * byte/char-level kernels on both engines fold identical integers. */
  def codePointsKernel(s: UTF8String): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val out = new Array[Any](cps.length)
    var i = 0
    while (i < cps.length) { out(i) = cps(i); i += 1 }
    new GenericArrayData(out)
  }

  case class CodePoints(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      codePointsKernel(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExprs.codePointsKernel($c)")
    override protected def withNewChildInternal(c: Expression): CodePoints =
      copy(c)
  }

  /** Static kernel: Unicode NFC normalization (canonical composition)
    * via the JDK's own java.text.Normalizer — the per-row seam under
    * text_nfc_audit. The common case in a real corpus is already-NFC
    * text; Normalizer.isNormalized is a cheap scan that skips the
    * allocating normalize pass for those rows, so the kernel costs one
    * verification scan per already-clean string. */
  def nfcKernel(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Unicode NFC normalization as a codegen'd expression (stays inside
    * the surrounding whole-stage; a Scala UDF here would box every row
    * and hide the column from Catalyst). Canonical equivalence is the
    * first normalization an LLM text pipeline applies before hashing or
    * tokenizing multilingual text — decomposed "e"+U+0301 and
    * precomposed U+00E9 must dedup identically. */
  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any =
      nfcKernel(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExprs.nfcKernel($c)")
    override protected def withNewChildInternal(c: Expression): NfcNormalize =
      copy(c)
  }

  /** Static kernel: content-defined chunk boundaries from a true O(n)
    * ROLLING polynomial hash (Rabin-Karp update: push the new code
    * point, pop the one leaving the window via its precomputed p^w
    * term). Emits the 1-based END position of every window whose hash
    * divides `d` — cut AFTER that position — skipping the final
    * position (a trailing cut is a no-op). The naive per-position
    * re-fold is O(n*w); this is the pass the oracle's slice-reduce
    * formulation cannot afford at scale, which is exactly why it lives
    * here as a codegen'd Expression instead of an exploded HOF. */
  def rollingBoundsKernel(s: UTF8String, w: Int, p: Long, m: Long,
                          d: Long): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    if (n < w) return new GenericArrayData(Array.empty[Any])
    var pw = 1L
    var k = 0
    while (k < w) { pw = pw * p % m; k += 1 }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * p + cps(i)) % m
      if (i >= w) h = ((h - cps(i - w) * pw % m) % m + m) % m
      if (i >= w - 1 && i < n - 1 && h % d == 0L) out += (i + 1)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  case class RollingChunkBounds(child: Expression, w: Int, p: Long,
                                m: Long, d: Long) extends UnaryExpression {
    require(w >= 2 && p > 1 && m > 1 && d >= 2)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      rollingBoundsKernel(input.asInstanceOf[UTF8String], w, p, m, d)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.HashExprs.rollingBoundsKernel($c, $w, ${p}L, ${m}L, ${d}L)")
    override protected def withNewChildInternal(c: Expression): RollingChunkBounds =
      copy(child = c)
  }

  // Column-level API. Spark 4 wraps Expressions via classic.ExpressionUtils,
  // reached through the single private-API shim in org.apache.spark.sql.graft.
  import org.apache.spark.sql.graft.shims.{column, expression}
  def hyperplane_bucket(vec: Column, planes: Array[Array[Double]]): Column =
    column(HyperplaneBucket(expression(vec), planes))
  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))
  def simhash_md5_60(tokens: Column): Column =
    column(SimHashMd560(expression(tokens)))
  def det_lsh_buckets(vec: Column, bits: Int, tables: Int): Column =
    column(DetLshBuckets(expression(vec), bits, tables))
  def ngram_shingles(tokens: Column, n: Int): Column =
    column(NgramShingles(expression(tokens), n))
  def minhash(shingles: Column, numPerms: Int): Column =
    column(MinHashSignature(expression(shingles), numPerms))
  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))
  def dot_i64(a: Column, b: Column): Column =
    column(DotI64(expression(a), expression(b)))
  def pq_encode_i64(vec: Column, cb: Array[Long], ks: Int,
                    cbDims: Int): Column =
    column(PqEncodeI64(expression(vec),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(cb), ks,
      cbDims))
  def det_ivf_cells_i64(vec: Column, cells: Array[Long],
                        plane: Array[Long], nc: Array[Long], dims: Int,
                        nprobe: Int): Column =
    column(DetIvfCellsI64(expression(vec),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(cells),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(plane),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(nc), dims,
      nprobe))
  def pq_lut_resid_i64(vec: Column, cell: Column, cells: Array[Long],
                       plane: Array[Long], cb: Array[Long], ks: Int,
                       cbDims: Int): Column =
    column(PqLutResidI64(expression(vec), expression(cell),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(cells),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(plane),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(cb), ks,
      cbDims))
  def pq_encode_resid_i64(vec: Column, cell: Column, cells: Array[Long],
                          plane: Array[Long], cb: Array[Long], ks: Int,
                          cbDims: Int): Column =
    column(PqEncodeResidI64(expression(vec), expression(cell),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(cells),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(plane),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(cb), ks,
      cbDims))
  def adc_i64(codes: Column, lut: Column): Column =
    column(AdcI64(expression(codes), expression(lut)))
  def sq8_adc_i64(codes: Column, lut: Column, scl: Column): Column =
    column(Sq8AdcI64(expression(codes), expression(lut), expression(scl)))
  def code_points(text: Column): Column = column(CodePoints(expression(text)))
  def nfc_normalize(text: Column): Column =
    column(NfcNormalize(expression(text)))
  def rolling_chunk_bounds(text: Column, w: Int, p: Long, m: Long,
                           d: Long): Column =
    column(RollingChunkBounds(expression(text), w, p, m, d))
}
