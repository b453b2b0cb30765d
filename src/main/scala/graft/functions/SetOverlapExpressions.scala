package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `round(1000·|A∩B| / |A∪B|)` (jaccard) or
  * `round(1000·|A∩B| / min(len A, len B))` (containment) over two
  * arrays, in ONE hash pass — the kernel form of
  * `round(size(array_intersect(a,b)) * 1000.0 / size(array_union(a,b)))
  * .cast("long")`.
  *
  * Why a kernel: the column form materializes BOTH the intersection
  * and the union as new arrays through two independent generic set
  * builders per row — and the r18 JFR profile showed the minhash
  * verify stage burning 35–41 process-CPU-seconds at sf0.1 almost
  * entirely inside those set ops (the pair flood is large, the word
  * sets small — per-pair overhead dominates). This expression counts
  * distinct / intersecting elements in one pass over both arrays with
  * no output arrays, no per-element type dispatch, and a primitive
  * open-addressing table on the LONG path.
  *
  * Exact-parity contract (spec-pinned in SetOverlapParitySpec):
  *  - distinct semantics: `array_intersect` / `array_union` dedup
  *    their outputs, so duplicates in either input count once; the
  *    kernel counts distinct occurrences the same way (inputs are NOT
  *    assumed pre-deduped — dedup_ngram_jaccard feeds raw n-gram
  *    arrays).
  *  - null elements: both set ops treat null as equal to null — null
  *    joins the intersection iff present on both sides and the union
  *    iff present on either; the CONTAINMENT denominator is the RAW
  *    `size()` (duplicates and nulls counted), as in the column form.
  *  - rounding: `round(double)` is BigDecimal HALF_UP, NOT
  *    `Math.round`; a zero denominator yields NaN whose `cast(long)`
  *    is 0 — the kernel returns 0 there.
  *  - nulls: either array NULL → NULL (size(null) is null under the
  *    default non-legacy flag, which nulls the whole chain).
  *
  * Element types: LongType and StringType — the two shapes the dedup
  * family produces (word sets, gram hashes). Anything else is
  * refused at analysis time. */
case class SetOverlapMilli(left: Expression, right: Expression,
    containment: Boolean) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String =
    if (containment) "vfs_containment_milli" else "vfs_jaccard_milli"

  private def elemType: DataType = left.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _))
          if a == b && (a == LongType || a == StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs two array<long> or two array<string> " +
            s"inputs, got ${left.dataType.sql} / ${right.dataType.sql}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    if (elemType == LongType) SetOverlapMilli.milliLong(aa, bb, containment)
    else SetOverlapMilli.milliString(aa, bb, containment)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val fn = if (elemType == LongType) "milliLong" else "milliString"
    val cm = containment.toString
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SetOverlapMilli.$fn($a, $b, $cm)")
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}

object SetOverlapMilli {

  /** `round(x)` parity with Spark's Round(double, 0) → cast(long) in
    * pure integer arithmetic — no BigDecimal / Double.toString per
    * pair (r18: ~0.7 CPU-s of the sf0.1 minhash verify lap was this
    * allocation).
    *
    * Equivalence proof against the previous
    * `BigDecimal.valueOf(inter*1000.0/denom).setScale(0, HALF_UP)`
    * (itself spec-pinned to Spark's Round): let r = inter·1000 and
    * rem = r mod denom. Here 0 ≤ inter ≤ denom < 2^33, so r < 2^43
    * and denom < 2^33 are both EXACT doubles, and the true ratio x*
    * = r/denom lies in [0, 1000].
    *  - If 2·rem = denom, x* = q + 1/2 is exactly representable
    *    (q ≤ 1000), IEEE division returns it exactly, valueOf's
    *    shortest-decimal is exactly "q.5", and HALF_UP rounds up —
    *    the integer form's `2·rem >= denom` branch.
    *  - Otherwise x*'s distance to the nearest rounding boundary
    *    (k + 1/2) is ≥ 1/(2·denom) > 2^-34, while the double x and
    *    its shortest-decimal rendering each sit within ulp/2 ≤ 2^-44
    *    of x* (ulp ≤ 2^-43 for x ≤ 1000) — strictly the same side of
    *    every boundary, so both forms round to the same integer.
    * Callers guard denom == 0 (the NaN case, which casts to 0).
    * Spec-pinned exhaustively for denom ≤ 2048 and randomized at
    * 2^31-scale against the BigDecimal form (SetOverlapParitySpec). */
  private def roundMilli(inter: Int, denom: Long): Long = {
    if (denom == 0L) return 0L
    val r = inter * 1000L
    val q = r / denom
    if ((r - q * denom) * 2 >= denom) q + 1 else q
  }

  /** The pre-r18.2 BigDecimal form — retained as the parity oracle
    * for [[roundMilli]] (test-only). */
  private[graft] def roundMilliBigDecimal(inter: Int, denom: Long): Long = {
    if (denom == 0L) return 0L
    val x = inter * 1000.0 / denom
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
  }

  /** One-pass distinct/intersection counting for LONG arrays via a
    * primitive open-addressing table: key array + state array
    * (0 empty, 1 seen-in-A, 2 seen-in-B, 3 both). Returns the final
    * milli value. */
  def milliLong(a: ArrayData, b: ArrayData, containment: Boolean): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    // capacity: next pow2 ≥ 2·(na+nb) (worst case all distinct)
    var cap = 8
    while (cap < (na + nb) * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val state = new Array[Byte](cap)
    val mask = cap - 1
    var dA = 0
    var dB = 0
    var inter = 0
    // null elements tracked out-of-table (0 is a valid key)
    var nullA = false
    var nullB = false
    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) nullA = true
      else {
        val k = a.getLong(i)
        var p = (java.lang.Long.hashCode(k) & 0x7fffffff) & mask
        var done = false
        while (!done) {
          if (state(p) == 0) {
            keys(p) = k; state(p) = 1; dA += 1; done = true
          } else if (keys(p) == k) done = true
          else p = (p + 1) & mask
        }
      }
      i += 1
    }
    i = 0
    while (i < nb) {
      if (b.isNullAt(i)) nullB = true
      else {
        val k = b.getLong(i)
        var p = (java.lang.Long.hashCode(k) & 0x7fffffff) & mask
        var done = false
        while (!done) {
          if (state(p) == 0) {
            keys(p) = k; state(p) = 2; dB += 1; done = true
          } else if (keys(p) == k) {
            if (state(p) == 1) { state(p) = 3; dB += 1; inter += 1 }
            done = true
          } else p = (p + 1) & mask
        }
      }
      i += 1
    }
    if (nullA) dA += 1
    if (nullB) dB += 1
    if (nullA && nullB) inter += 1
    finish(inter, dA, dB, na, nb, containment)
  }

  /** Same pass for STRING arrays (UTF8String byte equality — exactly
    * the set ops' ordering-free equality) via open addressing with
    * the same 1/2/3 state encoding. Hand-rolled rather than
    * java.util.HashMap: the r18 JFR profile showed the map path
    * dominated by re-hashed UTF8String.hashCode calls (a get + put
    * per element = two murmur passes over the bytes) plus node
    * allocation and bucket treeification — here each element hashes
    * ONCE, the hash is cached for the equality short-circuit, and no
    * nodes are allocated. */
  def milliString(a: ArrayData, b: ArrayData,
      containment: Boolean): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var cap = 8
    while (cap < (na + nb) * 2) cap <<= 1
    val keys = new Array[UTF8String](cap)
    val hashes = new Array[Int](cap)
    val state = new Array[Byte](cap)
    val mask = cap - 1
    var dA = 0
    var dB = 0
    var inter = 0
    var nullA = false
    var nullB = false
    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) nullA = true
      else {
        val k = a.getUTF8String(i)
        val h = k.hashCode()
        var p = (h & 0x7fffffff) & mask
        var done = false
        while (!done) {
          if (state(p) == 0) {
            keys(p) = k; hashes(p) = h; state(p) = 1; dA += 1
            done = true
          } else if (hashes(p) == h && keys(p).equals(k)) done = true
          else p = (p + 1) & mask
        }
      }
      i += 1
    }
    i = 0
    while (i < nb) {
      if (b.isNullAt(i)) nullB = true
      else {
        val k = b.getUTF8String(i)
        val h = k.hashCode()
        var p = (h & 0x7fffffff) & mask
        var done = false
        while (!done) {
          if (state(p) == 0) {
            keys(p) = k; hashes(p) = h; state(p) = 2; dB += 1
            done = true
          } else if (hashes(p) == h && keys(p).equals(k)) {
            if (state(p) == 1) { state(p) = 3; dB += 1; inter += 1 }
            done = true
          } else p = (p + 1) & mask
        }
      }
      i += 1
    }
    if (nullA) dA += 1
    if (nullB) dB += 1
    if (nullA && nullB) inter += 1
    finish(inter, dA, dB, na, nb, containment)
  }

  private def finish(inter: Int, dA: Int, dB: Int, rawA: Int, rawB: Int,
      containment: Boolean): Long =
    if (containment) roundMilli(inter, math.min(rawA, rawB).toLong)
    else roundMilli(inter, (dA.toLong + dB.toLong) - inter.toLong)

  /** [[milliString]] with SORTED packed (hash, ordinal) sidecars
    * ([[WordHashesSorted]]) precomputed per document — intersection
    * by a two-cursor merge, ZERO allocation per pair (a hashed kernel
    * builds a 2·(|A|+|B|)-slot probe table per candidate pair). Byte
    * equality decides on every hash match, so the count is
    * bit-identical to [[milliString]] on precondition-satisfying
    * input (distinct strings, no null elements — which
    * [[WordHashesSorted]] verified per row while packing); a side
    * whose sidecar length mismatches its word count (the
    * precondition-violated signal) falls back to the exact unsorted
    * kernel. Distinct counts are then exactly `numElements()`. */
  def milliSorted(a: ArrayData, pa: ArrayData, b: ArrayData,
      pb: ArrayData, containment: Boolean): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (pa.numElements() != na || pb.numElements() != nb)
      return milliString(a, b, containment)
    val inter = (a, b) match {
      case (ua: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData,
            ub: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData) =>
        mergeCountUnsafe(ua, pa, ub, pb)
      case _ => mergeCountGeneric(a, pa, b, pb)
    }
    finish(inter, na, nb, na, nb, containment)
  }

  /** Merge-count of byte-equal elements over two presorted packed
    * sidecars, raw-byte comparisons in place: an Unsafe element slot
    * long is `(offset << 32) | size` relative to the array's base
    * (exactly what getUTF8String decodes), so equality compares the
    * raw bytes via ByteArrayMethods — the byte equality
    * UTF8String.equals performs, with no wrapper objects allocated
    * per pair. Equal-hash RUNS (murmur
    * collisions between distinct strings — rare) compare all-pairs
    * within the run; each A element matches at most one distinct B
    * element, so `inter` increments once per matched A element. */
  private def mergeCountUnsafe(
      ua: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData,
      pa: ArrayData,
      ub: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData,
      pb: ArrayData): Int = {
    import org.apache.spark.unsafe.array.ByteArrayMethods
    val na = pa.numElements()
    val nb = pb.numElements()
    val aBase = ua.getBaseObject
    val aOff = ua.getBaseOffset
    val bBase = ub.getBaseObject
    val bOff = ub.getBaseOffset
    var inter = 0
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val li = pa.getLong(i)
      val lj = pb.getLong(j)
      // compare hash fields in the ARRAY's sort order: packSorted
      // sorts signed longs, so the ordinal-masked packed value is the
      // order key (signed compare; equality is plain bit equality)
      val ki = li & 0xffffffff00000000L
      val kj = lj & 0xffffffff00000000L
      if (ki < kj) i += 1
      else if (ki > kj) j += 1
      else {
        var i2 = i + 1
        while (i2 < na && (pa.getLong(i2) & 0xffffffff00000000L) == ki) i2 += 1
        var j2 = j + 1
        while (j2 < nb && (pb.getLong(j2) & 0xffffffff00000000L) == ki) j2 += 1
        if (i2 == i + 1 && j2 == j + 1) {
          // the overwhelmingly common 1×1 run
          val sa = ua.getLong(li.toInt)
          val sb = ub.getLong(lj.toInt)
          if (sa.toInt == sb.toInt && ByteArrayMethods.arrayEquals(
            aBase, aOff + (sa >> 32).toInt,
            bBase, bOff + (sb >> 32).toInt, sa.toInt)) inter += 1
        } else {
          var x = i
          while (x < i2) {
            val sa = ua.getLong(pa.getLong(x).toInt)
            val lenA = sa.toInt
            var y = j
            var matched = false
            while (!matched && y < j2) {
              val sb = ub.getLong(pb.getLong(y).toInt)
              if (sb.toInt == lenA && ByteArrayMethods.arrayEquals(
                aBase, aOff + (sa >> 32).toInt,
                bBase, bOff + (sb >> 32).toInt, lenA)) {
                inter += 1; matched = true
              }
              y += 1
            }
            x += 1
          }
        }
        i = i2; j = j2
      }
    }
    inter
  }

  /** [[mergeCountUnsafe]] through the generic ArrayData getters — any
    * non-Unsafe input (literals, locally built test arrays) and the
    * parity oracle for the Unsafe path. */
  private[graft] def mergeCountGeneric(a: ArrayData, pa: ArrayData,
      b: ArrayData, pb: ArrayData): Int = {
    val na = pa.numElements()
    val nb = pb.numElements()
    var inter = 0
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val li = pa.getLong(i)
      val lj = pb.getLong(j)
      // compare hash fields in the ARRAY's sort order: packSorted
      // sorts signed longs, so the ordinal-masked packed value is the
      // order key (signed compare; equality is plain bit equality)
      val ki = li & 0xffffffff00000000L
      val kj = lj & 0xffffffff00000000L
      if (ki < kj) i += 1
      else if (ki > kj) j += 1
      else {
        var i2 = i + 1
        while (i2 < na && (pa.getLong(i2) & 0xffffffff00000000L) == ki) i2 += 1
        var j2 = j + 1
        while (j2 < nb && (pb.getLong(j2) & 0xffffffff00000000L) == ki) j2 += 1
        var x = i
        while (x < i2) {
          val wa = a.getUTF8String(pa.getLong(x).toInt)
          var y = j
          var matched = false
          while (!matched && y < j2) {
            if (wa.equals(b.getUTF8String(pb.getLong(y).toInt))) {
              inter += 1; matched = true
            }
            y += 1
          }
          x += 1
        }
        i = i2; j = j2
      }
    }
    inter
  }
}

/** Per-document SORTED (hash, ordinal) sidecar for the pair-verify
  * merge kernel ([[SetOverlapMilliSorted]]): each element of the
  * word array contributes one long `(murmur3(word) & 0xffffffffL)
  * << 32 | ordinal`, and the array is sorted (signed-long ascending =
  * (hash-as-signed-int, ordinal) lexicographic — any consistent total
  * order works; both sides use this one). Computed ONCE per doc row,
  * so the per-PAIR verify is a straight two-cursor merge with ZERO
  * allocation — a hashed kernel builds a 2·(|A|+|B|)-slot probe
  * table per candidate pair (~9 KB of short-lived arrays per
  * pair at corpus word counts), which both dominated the steady-state
  * verify CPU and made the kernel's interpreted path (the r18 driver
  * regression's C2-compile-storm window) disproportionately slow.
  *
  * PRECONDITION SIGNAL, not an assumption: the merge counts distinct
  * elements as `numElements()`, which is only exact when the side has
  * no duplicate strings and no null elements. Both hold for every
  * caller ([[graft.operators.Dedup]] builds the sides with
  * `array_distinct(split(...))`, which cannot emit nulls), but this
  * expression VERIFIES it per row while packing (null check on the
  * walk; duplicate check = byte-compare inside equal-hash runs of the
  * sorted array, O(n + collisions)) and publishes an EMPTY array on
  * violation — [[SetOverlapMilli.milliSorted]] sees the length
  * mismatch and falls back to the exact unsorted kernel
  * ([[SetOverlapMilli.milliString]]) for that pair. A legitimately
  * empty word array (n = 0) trivially satisfies the precondition and
  * the merge path handles it. NULL array → NULL. */
case class WordHashesSorted(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vfs_word_hashes_sorted"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs an array<string> input, got ${other.sql}")
    }

  override def nullSafeEval(v: Any): Any =
    WordHashesSorted.packSorted(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.WordHashesSorted.packSorted($a)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WordHashesSorted {
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  private val Violated: UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  def packSorted(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return Violated
      val h = a.getUTF8String(i).hashCode()
      out(i) = ((h & 0xffffffffL) << 32) | i.toLong
      i += 1
    }
    java.util.Arrays.sort(out)
    // duplicate-string detection inside equal-hash runs (runs are
    // almost always length 1 — this walk is O(n) plus rare compares)
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && (out(j) >>> 32) == (out(i) >>> 32)) {
        var x = i
        while (x < j) {
          if (a.getUTF8String(out(x).toInt)
              .equals(a.getUTF8String(out(j).toInt))) return Violated
          x += 1
        }
        j += 1
      }
      i = j
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** The pair-verify overlap milli over two word arrays with their
  * [[WordHashesSorted]] sidecars riding alongside — a two-cursor
  * merge over the presorted packed arrays, byte equality deciding on
  * every hash match (the hash only ROUTES), zero allocation per pair.
  * `n > 0` side with a length-mismatched sidecar (the
  * [[WordHashesSorted]] precondition-violated signal) falls back to
  * the exact unsorted kernel — the milli is identical either way.
  * Children: (words_a, packed_a, words_b, packed_b). */
case class SetOverlapMilliSorted(first: Expression, second: Expression,
    third: Expression, fourth: Expression, containment: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String =
    if (containment) "vfs_containment_milli_s" else "vfs_jaccard_milli_s"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _),
            ArrayType(StringType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (array<string>, array<long>, " +
            s"array<string>, array<long>), got ${children.map(_.dataType.sql)}")
    }
  }

  override def nullSafeEval(a: Any, pa: Any, b: Any, pb: Any): Any =
    SetOverlapMilli.milliSorted(a.asInstanceOf[ArrayData],
      pa.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      pb.asInstanceOf[ArrayData], containment)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cm = containment.toString
    defineCodeGen(ctx, ev, (a, pa, b, pb) =>
      s"graft.functions.SetOverlapMilli.milliSorted($a, $pa, $b, $pb, $cm)")
  }

  override protected def withNewChildrenInternal(a: Expression,
      b: Expression, c: Expression, d: Expression): Expression =
    copy(first = a, second = b, third = c, fourth = d)
}
