package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.array_distinct
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native codegen'd text-hash expressions.
  *
  * The higher-order-function formulations of SimHash (q38) and rolling-
  * window fingerprints (q33) evaluate an interpreted lambda per array
  * element: 60 bits × tokens (SimHash) and window × positions
  * (fingerprint) lambda dispatches PER ROW — the two slowest pipelines in
  * the round-1 bench once the noop sink stopped Catalyst from pruning them.
  * These expressions run the same folds as tight generated-Java loops
  * inside whole-stage codegen. Semantics match the HOF forms exactly
  * (verified bit-for-bit in TextHashesSpec), so the DuckDB oracles are
  * unchanged.
  *
  * All three fold over Unicode codepoints / long hashes with the same
  * arithmetic the DuckDB oracle uses: `(acc * 31 + cp) % 1e9+7` for the
  * polynomial hashes, per-bit ±1 majority for SimHash.
  *
  * The md5 word-n-gram family (`hashed_ngrams_seq`, its distinct form
  * `hashed_ngrams`, `hashed_ngrams_uniq`, `minhash_shingles`) hashes every
  * gram through the one kernel [[GramHash]].
  */
object TextHashes {
  private[graft] val MOD = 1000000007L

  /** 31^(w-1) mod MOD — the drop-out coefficient of the rolling hash. */
  private[graft] def dropPow(window: Int): Long =
    (1 until window).foldLeft(1L)((a, _) => a * 31 % MOD)

  def simhash60(h: Column): Column =
    ExpressionUtils.column(SimHash60(ExpressionUtils.expression(h)))
  def ngram_distincts(tokens: Column): Column =
    ExpressionUtils.column(NgramDistincts(ExpressionUtils.expression(tokens)))
  def poly_hash(text: Column): Column =
    ExpressionUtils.column(PolyHash(ExpressionUtils.expression(text)))
  def min_window_hash(text: Column, window: Int): Column =
    ExpressionUtils.column(MinWindowHash(ExpressionUtils.expression(text), window))
  def sorted_intersect_size(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectSize(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def bpe_merge(tokens: Column, pairs: Seq[(String, String)]): Column =
    ExpressionUtils.column(BpeMerge(ExpressionUtils.expression(tokens), pairs))
  def minhash_shingles(tokens: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    ExpressionUtils.column(MinHashShingles(ExpressionUtils.expression(tokens), a, b, p))
  /** Distinct md5-hashed word n-grams in first-occurrence order (one NULL
    * kept should a gram hold a NULL token) — the positional kernel's
    * array_distinct. */
  def hashed_ngrams(tokens: Column, n: Int, p: Long): Column =
    array_distinct(hashed_ngrams_seq(tokens, n, p))
  def hashed_ngrams_seq(tokens: Column, n: Int, p: Long): Column =
    ExpressionUtils.column(HashedNgramsSeq(ExpressionUtils.expression(tokens), n, p))
  def chunk_join(tokens: Column, chunk: Int, chunkSep: String): Column =
    ExpressionUtils.column(ChunkJoin(ExpressionUtils.expression(tokens), chunk, chunkSep))
  def hashed_ngrams_uniq(tokens: Column, n: Int, p: Long): Column =
    ExpressionUtils.column(HashedNgramsUniq(ExpressionUtils.expression(tokens), n, p))
}

/** The md5 word-n-gram hash, written once for every native gram
  * expression: md5 of the n tokens joined by single spaces, the first 4
  * digest bytes read as an unsigned big-endian int, `% p` — exactly
  * `conv(substring(md5(cast(g AS BINARY)),1,8),16,10) % p` (Dedup.tokHash)
  * of the space-joined gram g, and the DuckDB oracles' `TokHashSql`.
  * The digest is fed the token bytes and separators directly (no gram
  * string is built) and lands in a per-thread buffer, so hashing a window
  * allocates nothing. */
private[graft] object GramHash {
  private final class Md5 {
    val md: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
  }
  private val md5Local = new ThreadLocal[Md5] {
    override def initialValue(): Md5 = new Md5
  }

  /** The UTF-8 bytes of each token, a NULL element as null. */
  def tokenBytes(arr: ArrayData): Array[Array[Byte]] = {
    val toks = new Array[Array[Byte]](arr.numElements())
    var i = 0
    while (i < toks.length) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      i += 1
    }
    toks
  }

  /** The hash of the window toks[i, i+n), in [0, p); -1 when the window
    * holds a NULL token (the HOF form's NULL element). */
  def hashAt(toks: Array[Array[Byte]], i: Int, n: Int, p: Long): Long = {
    var j = i
    while (j < i + n) { if (toks(j) == null) return -1L; j += 1 }
    val s = md5Local.get()
    val md = s.md
    md.reset()
    j = i
    while (j < i + n) {
      if (j > i) md.update(' '.toByte)
      md.update(toks(j))
      j += 1
    }
    val d = s.digest
    md.digest(d, 0, d.length)
    (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % p
  }

  /** hs[0, m) as an `array<bigint>`, -1 as NULL. */
  def toArrayData(hs: Array[Long], m: Int): ArrayData = {
    val out = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.createFreshArray(m, 8)
    var i = 0
    while (i < m) {
      if (hs(i) < 0) out.setNullAt(i) else out.setLong(i, hs(i))
      i += 1
    }
    out
  }
}

/** md5-hashed word n-grams deduped at the GRAM-STRING level — exactly
  * `transform(array_distinct(ngrams_n(w)), g -> tokHash(g))`: one hash
  * per DISTINCT gram string in first-occurrence order. This is NOT
  * `hashed_ngrams` (which dedupes at hash level): two distinct strings
  * colliding to one hash must stay two elements here, because consumers
  * (q231/q232's novelty/Heaps grams) count exploded rows. A gram with a
  * NULL token contributes one NULL element (array_distinct keeps one);
  * fewer than n tokens → empty; NULL input → NULL. Bit-parity pinned in
  * TextHashesSpec. */
case class HashedNgramsUniq(child: Expression, n: Int, p: Long)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.unsafe.types.UTF8String
  require(n >= 1, s"hashed_ngrams_uniq: bad n $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "hashed_ngrams_uniq"

  /** public (not protected nullSafeEval): the generated code calls it. */
  def computeArr(input: Any): ArrayData = {
    val arr = input.asInstanceOf[ArrayData]
    val toks = GramHash.tokenBytes(arr)
    val hs = new Array[Long](math.max(toks.length - n + 1, 0))
    val space = UTF8String.fromString(" ")
    // the gram STRINGS seen so far; null stands for the NULL element
    val seen = new java.util.HashSet[UTF8String]()
    var m = 0
    var i = 0
    while (i < hs.length) {
      val h = GramHash.hashAt(toks, i, n, p)
      if (seen.add(if (h < 0) null
          else UTF8String.concatWs(space, (i until i + n).map(arr.getUTF8String): _*))) {
        hs(m) = h
        m += 1
      }
      i += 1
    }
    GramHash.toArrayData(hs, m)
  }

  override def nullSafeEval(input: Any): Any = computeArr(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("hngu", this, classOf[HashedNgramsUniq].getName)
      s"${ev.value} = $ref.computeArr($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): HashedNgramsUniq =
    copy(child = newChild)
}

/** Join a token array into chunks of `chunk` tokens (space-separated)
  * with `chunkSep` between chunks — exactly
  * `concat_ws(chunkSep, transform(sequence(0, ceil(n/chunk)-1),
  *   i -> concat_ws(' ', slice(w, i*chunk+1, chunk))))`
  * as ONE pass. The HOF form is the q310/q313 boundary-corpus trap on
  * purpose avoided here: after projection collapse the indexed lambda
  * re-evaluates the inlined token-array child PER CHUNK (the documented
  * ~O(tokens·chunks) re-tokenization — 320 s at the 100× tier). NULL
  * elements are skipped (concat_ws semantics, both levels); empty input
  * → empty string; NULL input → NULL. Bit-parity pinned in
  * TextHashesSpec; the oracle derives the same corpus its own way. */
case class ChunkJoin(child: Expression, chunk: Int, chunkSep: String)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.unsafe.types.UTF8String
  require(chunk >= 1, s"chunk_join: bad chunk $chunk")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = "chunk_join"

  /** public (not protected nullSafeEval): the generated code calls it.
    * Chunk strings build exactly like concat_ws(' ', slice) — NULL
    * elements skipped within a chunk (no double space), an all-null
    * chunk contributes an empty string between chunkSeps. */
  def computeStr(input: Any): UTF8String = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sb = new java.lang.StringBuilder()
    var c = 0
    while (c * chunk < n) {
      if (c > 0) sb.append(chunkSep)
      val end = math.min((c + 1) * chunk, n)
      var j = c * chunk
      var firstTok = true
      while (j < end) {
        if (!arr.isNullAt(j)) {
          if (!firstTok) sb.append(' ')
          firstTok = false
          sb.append(arr.getUTF8String(j).toString)
        }
        j += 1
      }
      c += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override def nullSafeEval(input: Any): Any = computeStr(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("cj", this, classOf[ChunkJoin].getName)
      s"${ev.value} = $ref.computeStr($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): ChunkJoin =
    copy(child = newChild)
}

/** POSITIONAL md5-hashed word n-grams — one hash per window position
  * (no distinct), exactly `transform(ngrams_n(w), g -> tokHash(g))` over
  * the chained slice+zip_with gram build: element i = the hash of tokens
  * [i, i+n). The span family's window relation (q287/q288/q304/q308 via
  * [[graft.queries.Dedup]]'s spanWindows) posexplodes this, q215 explodes
  * it, and `hashed_ngrams` is its `array_distinct`. A gram containing a
  * NULL token yields a NULL element at its position (concat propagation —
  * never on tokenizer output). Fewer than n tokens → empty array (the
  * HOF's empty-slice zip); NULL input → NULL. Bit-parity with the HOF
  * form pinned in TextHashesSpec; oracles unchanged. */
case class HashedNgramsSeq(child: Expression, n: Int, p: Long)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"hashed_ngrams_seq: bad n $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "hashed_ngrams_seq"

  /** public (not protected nullSafeEval): the generated code calls it. */
  def computeArr(input: Any): ArrayData = {
    val toks = GramHash.tokenBytes(input.asInstanceOf[ArrayData])
    val hs = new Array[Long](math.max(toks.length - n + 1, 0))
    var i = 0
    while (i < hs.length) { hs(i) = GramHash.hashAt(toks, i, n, p); i += 1 }
    GramHash.toArrayData(hs, hs.length)
  }

  override def nullSafeEval(input: Any): Any = computeArr(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("hngs", this, classOf[HashedNgramsSeq].getName)
      s"${ev.value} = $ref.computeArr($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): HashedNgramsSeq =
    copy(child = newChild)
}

/** The whole MinHash per-document pipeline — distinct 3-word shingles,
  * 31-bit md5 token hash, sorted distinct hash set, K-permutation
  * signature minima — as ONE pass over the token array inside whole-stage
  * codegen: `struct<hs: array<bigint>, sig: array<bigint>>`.
  *
  * Replaces the HOF chain in [[graft.queries.Dedup.minhashBase]]
  * (zip_with×2 shingling + transform(md5-conv) + array_distinct +
  * array_sort + aggregate/zip_with K-min fold), which evaluated an
  * interpreted lambda per shingle per permutation AND allocated every
  * shingle as a fresh UTF8String — the dominant per-task cost of every
  * LSH-family query (q37/q70/q101/.../q294: the corpus hash pass). Here
  * each shingle hashes through [[GramHash]] (no shingle string is ever
  * materialized), the hashes sort and dedupe in one primitive array, and
  * the K minima fold in a primitive long loop.
  *
  * Semantics are IDENTICAL to the HOF form (pinned bit-for-bit in
  * TextHashesSpec on the fixture corpus + edge cases; the DuckDB oracles
  * are unchanged):
  *  - shingle hash = [[GramHash]] at n = 3;
  *  - dedupe at HASH level ≡ array_distinct(shingles) then
  *    array_distinct(hashes): equal strings hash equal, so the composed
  *    distincts collapse;
  *  - a shingle containing a NULL token propagates to one NULL element
  *    sorted LAST (array_sort semantics) and is ignored by the sig fold
  *    (least(m, NULL) = m) — never occurs on tokenizer output, kept for
  *    exact parity;
  *  - fewer than 3 tokens → hs = [], sig = [p]*K (the HOF's fold seed),
  *    which callers filter out exactly like the old size(w) > 0 gate.
  */
case class MinHashShingles(child: Expression, a: Seq[Long], b: Seq[Long], p: Long)
    extends UnaryExpression with ExpectsInputTypes {
  require(a.nonEmpty && a.length == b.length, "minhash_shingles: bad a/b")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  // element containsNull = true matches the HOF forms' schema (transform /
  // aggregate produce nullable elements), so persisted state tables keep
  // the exact pre-change parquet shape
  override def dataType: DataType = StructType(Seq(
    StructField("hs", ArrayType(LongType, containsNull = true), nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = true), nullable = false)))
  override def prettyName: String = "minhash_shingles"

  @transient private lazy val aArr: Array[Long] = a.toArray
  @transient private lazy val bArr: Array[Long] = b.toArray

  /** public (not protected nullSafeEval): the generated code calls it. */
  def computeRow(input: Any): org.apache.spark.sql.catalyst.InternalRow =
    MinHashShingles.compute(input.asInstanceOf[ArrayData], aArr, bArr, p)

  override def nullSafeEval(input: Any): Any = computeRow(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("mhs", this, classOf[MinHashShingles].getName)
      s"${ev.value} = $ref.computeRow($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashShingles =
    copy(child = newChild)
}

object MinHashShingles {
  private[graft] def compute(arr: ArrayData, a: Array[Long], b: Array[Long],
      p: Long): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = GramHash.tokenBytes(arr)
    val k = a.length
    // every shingle hash, then sorted and deduped in place
    val hs = new Array[Long](math.max(toks.length - 2, 0))
    var m0 = 0
    var sawNull = false
    var i = 0
    while (i < hs.length) {
      val h = GramHash.hashAt(toks, i, 3, p)
      if (h < 0) sawNull = true else { hs(m0) = h; m0 += 1 }
      i += 1
    }
    java.util.Arrays.sort(hs, 0, m0)
    var m = 0
    i = 0
    while (i < m0) {
      if (m == 0 || hs(i) != hs(m - 1)) { hs(m) = hs(i); m += 1 }
      i += 1
    }
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, p)
    var x = 0
    while (x < m) {
      val hv = hs(x)
      var kk = 0
      while (kk < k) {
        val v = (a(kk) * hv + b(kk)) % p
        if (v < sig(kk)) sig(kk) = v
        kk += 1
      }
      x += 1
    }
    // one NULL element (array_distinct keeps one), sorted LAST; a NULL
    // window left a free slot behind the m distinct hashes
    if (sawNull) hs(m) = -1L
    val hsData = GramHash.toArrayData(hs, if (sawNull) m + 1 else m)
    val sigData = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(sig)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](hsData, sigData))
  }
}

/** Leftmost-greedy non-overlapping BPE merge pass over a token array — the
  * sequential scan of Sennrich et al. 2016 as ONE codegen'd loop per row:
  * at position i, if (w(i), w(i+1)) equals any learned pair, emit the
  * merged token ("a b") and advance 2, else emit w(i) and advance 1. This
  * IS the canonical greedy semantics for every pair shape (a = b run
  * parity included — the scan never re-examines a consumed successor), so
  * it replaces both the r15 exploded window-mark/rebuild (a corpus
  * exchange + sort + collect_list per round; held the 100x residual
  * spill) and the r16 interim HOF fold (interpreted aggregate() measured
  * ~200 s per a=b pass at the 100x tier — the "native expression beats
  * HOF" lesson once more). Pairs ride as reference objects; for batched
  * token-disjoint pairs at most one can match at a position, so list
  * order is immaterial. Equality with a driver-side sequential reference
  * is pinned in TrainingSpec; q299/q301's DuckDB oracles are unchanged. */
case class BpeMerge(child: Expression, pairs: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.unsafe.types.UTF8String

  require(pairs.nonEmpty, "bpe_merge: no pairs")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType,
    containsNull = child.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    })
  override def prettyName: String = "bpe_merge"

  @transient private lazy val paArr: Array[UTF8String] =
    pairs.map(p => UTF8String.fromString(p._1)).toArray
  @transient private lazy val pbArr: Array[UTF8String] =
    pairs.map(p => UTF8String.fromString(p._2)).toArray
  @transient private lazy val mergedArr: Array[UTF8String] =
    pairs.map(p => UTF8String.fromString(p._1 + " " + p._2)).toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      val t: UTF8String = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      var m = -1
      if (t != null && i + 1 < n && !arr.isNullAt(i + 1)) {
        val nx = arr.getUTF8String(i + 1)
        var j = 0
        while (m < 0 && j < paArr.length) {
          if (t.equals(paArr(j)) && nx.equals(pbArr(j))) m = j
          j += 1
        }
      }
      if (m >= 0) { out.add(mergedArr(m)); i += 2 }
      else { out.add(t); i += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size())))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val paRef = ctx.addReferenceObj("bpePa", paArr,
        "org.apache.spark.unsafe.types.UTF8String[]")
      val pbRef = ctx.addReferenceObj("bpePb", pbArr,
        "org.apache.spark.unsafe.types.UTF8String[]")
      val mgRef = ctx.addReferenceObj("bpeMerged", mergedArr,
        "org.apache.spark.unsafe.types.UTF8String[]")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val t = ctx.freshName("t")
      val nx = ctx.freshName("nx")
      // raw ArrayList: Janino has no generics
      s"""
         |int $n = $a.numElements();
         |java.util.ArrayList $out = new java.util.ArrayList($n);
         |int $i = 0;
         |while ($i < $n) {
         |  org.apache.spark.unsafe.types.UTF8String $t =
         |    $a.isNullAt($i) ? null : $a.getUTF8String($i);
         |  int $m = -1;
         |  if ($t != null && $i + 1 < $n && !$a.isNullAt($i + 1)) {
         |    org.apache.spark.unsafe.types.UTF8String $nx = $a.getUTF8String($i + 1);
         |    for (int $j = 0; $m < 0 && $j < $paRef.length; $j++) {
         |      if ($t.equals($paRef[$j]) && $nx.equals($pbRef[$j])) $m = $j;
         |    }
         |  }
         |  if ($m >= 0) { $out.add($mgRef[$m]); $i += 2; }
         |  else { $out.add($t); $i += 1; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $out.toArray(new Object[0]));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): BpeMerge =
    copy(child = newChild)
}

/** |A ∩ B| of two SORTED ascending `array<bigint>` (distinct elements) via
  * a codegen'd two-pointer merge — the hot operation of every dedup verify
  * join (true Jaccard over shingle-hash sets). `size(array_intersect(a,b))`
  * builds a hash set PER ROW and allocates the intersection array just to
  * measure it; the merge walks both arrays once, allocates nothing, and
  * stays inside whole-stage codegen. Caller contract: both inputs sorted
  * ascending and duplicate-free (minhashBase stores `hs` that way) —
  * unsorted input silently undercounts, which the bit-parity spec guards. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** 60-bit SimHash of an `array<bigint>` of 60-bit token hashes: bit j of
  * the result is set iff more tokens have bit j set than not. A null
  * element counts −1 for every bit, matching the HOF `CASE WHEN NULL`
  * semantics (never occurs on md5-derived inputs). */
case class SimHash60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](60)
    var k = 0
    val n = arr.numElements()
    while (k < n) {
      if (arr.isNullAt(k)) {
        var j = 0; while (j < 60) { counts(j) -= 1; j += 1 }
      } else {
        val h = arr.getLong(k)
        var j = 0
        while (j < 60) {
          if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      k += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (counts(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val counts = ctx.freshName("counts")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
         |int[] $counts = new int[60];
         |int $n = $a.numElements();
         |for (int $k = 0; $k < $n; $k++) {
         |  if ($a.isNullAt($k)) {
         |    for (int $j = 0; $j < 60; $j++) $counts[$j]--;
         |  } else {
         |    long $h = $a.getLong($k);
         |    for (int $j = 0; $j < 60; $j++) {
         |      if ((($h >> $j) & 1L) == 1L) $counts[$j]++; else $counts[$j]--;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 60; $j++) if ($counts[$j] > 0) $out |= 1L << $j;
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** Distinct counts of tokens, adjacent 2-grams, and adjacent 3-grams of an
  * `array<string>`, in ONE pass — `struct<d_tok, d_2g, d_3g>` of BIGINTs.
  *
  * Replaces the q80/CorpusMain repetition-signal chain of two zip_with
  * n-gram constructions plus three array_distinct calls, which allocates
  * every n-gram as a fresh UTF8String and walks the token array five times
  * per row. Here tokens get dense int ids from one hash-map pass; a 2-gram
  * is the EXACT pair of ids packed into one long (tokens come from a
  * whitespace split, so the space-joined strings the HOF form compares are
  * in bijection with id pairs), and a 3-gram is (2-gram id, third token id)
  * packed likewise — exact for any document size, no string allocation
  * after tokenization. Bit-parity with the HOF form is pinned in
  * TextHashesSpec; the DuckDB oracle is unchanged.
  *
  * Null elements participate as one distinct token (array_distinct
  * semantics); n-grams containing null match the HOF form's null-propagated
  * concat only in count terms for the all-null case — irrelevant in
  * practice because the tokenizer never emits null elements.
  */
case class NgramDistincts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("d_tok", LongType, nullable = false),
    StructField("d_2g", LongType, nullable = false),
    StructField("d_3g", LongType, nullable = false)))
  override def prettyName: String = "ngram_distincts"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val tokIds = new java.util.HashMap[AnyRef, Integer]()
    val ids = new Array[Int](n)
    var k = 0
    while (k < n) {
      val t: AnyRef = if (arr.isNullAt(k)) null else arr.getUTF8String(k)
      var v = tokIds.get(t)
      if (v == null) { v = Integer.valueOf(tokIds.size); tokIds.put(t, v) }
      ids(k) = v.intValue()
      k += 1
    }
    val pairIds = new java.util.HashMap[java.lang.Long, Integer]()
    val pids = new Array[Int](math.max(n - 1, 0))
    k = 0
    while (k + 1 < n) {
      val key = java.lang.Long.valueOf((ids(k).toLong << 32) | ids(k + 1).toLong)
      var v = pairIds.get(key)
      if (v == null) { v = Integer.valueOf(pairIds.size); pairIds.put(key, v) }
      pids(k) = v.intValue()
      k += 1
    }
    val tri = new java.util.HashSet[java.lang.Long]()
    k = 0
    while (k + 2 < n) {
      tri.add(java.lang.Long.valueOf((pids(k).toLong << 32) | ids(k + 2).toLong))
      k += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](tokIds.size.toLong, pairIds.size.toLong, tri.size.toLong))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val tokIds = ctx.freshName("tokIds")
      val ids = ctx.freshName("ids")
      val pairIds = ctx.freshName("pairIds")
      val pids = ctx.freshName("pids")
      val tri = ctx.freshName("tri")
      val k = ctx.freshName("k")
      val t = ctx.freshName("t")
      val v = ctx.freshName("v")
      val key = ctx.freshName("key")
      // raw collection types: the generated code is compiled by Janino,
      // which does not support generics
      s"""
         |int $n = $a.numElements();
         |java.util.HashMap $tokIds = new java.util.HashMap();
         |int[] $ids = new int[$n];
         |for (int $k = 0; $k < $n; $k++) {
         |  Object $t = $a.isNullAt($k) ? null : $a.getUTF8String($k);
         |  Integer $v = (Integer) $tokIds.get($t);
         |  if ($v == null) { $v = Integer.valueOf($tokIds.size()); $tokIds.put($t, $v); }
         |  $ids[$k] = $v.intValue();
         |}
         |java.util.HashMap $pairIds = new java.util.HashMap();
         |int[] $pids = new int[$n > 1 ? $n - 1 : 0];
         |for (int $k = 0; $k + 1 < $n; $k++) {
         |  Long $key = Long.valueOf(((long) $ids[$k] << 32) | (long) $ids[$k + 1]);
         |  Integer $v = (Integer) $pairIds.get($key);
         |  if ($v == null) { $v = Integer.valueOf($pairIds.size()); $pairIds.put($key, $v); }
         |  $pids[$k] = $v.intValue();
         |}
         |java.util.HashSet $tri = new java.util.HashSet();
         |for (int $k = 0; $k + 2 < $n; $k++) {
         |  $tri.add(Long.valueOf(((long) $pids[$k] << 32) | (long) $ids[$k + 2]));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ Long.valueOf((long) $tokIds.size()),
         |                Long.valueOf((long) $pairIds.size()),
         |                Long.valueOf((long) $tri.size()) });
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NgramDistincts =
    copy(child = newChild)
}

/** Polynomial hash of a string's codepoints: fold `(acc*31 + cp) % 1e9+7`.
  * Equals the HOF `aggregate(split(text,''), 0L, ...)` form and DuckDB's
  * `list_reduce` over `ascii(c)`. */
case class PolyHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % TextHashes.MOD
      i += Character.charCount(cp)
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
         |String $s = $a.toString();
         |long $acc = 0L;
         |for (int $i = 0; $i < $s.length(); ) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * 31 + $cp) % ${TextHashes.MOD}L;
         |  $i += Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** Minimum polynomial hash over all `window`-codepoint substrings, computed
  * with the Rabin–Karp rolling recurrence — O(len) instead of the HOF
  * form's O(window·len). NULL when the text has fewer than `window`
  * codepoints (same as the HOF `CASE WHEN length(text) < w THEN NULL`). */
case class MinWindowHash(child: Expression, window: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(window > 0, "window must be positive")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "min_window_hash"

  override def nullSafeEval(input: Any): Any = {
    val cps = input.toString.codePoints().toArray
    if (cps.length < window) null
    else {
      val P = TextHashes.MOD
      val drop = TextHashes.dropPow(window)
      var h = 0L
      var i = 0
      while (i < window) { h = (h * 31 + cps(i)) % P; i += 1 }
      var min = h
      while (i < cps.length) {
        h = (h - cps(i - window) * drop % P + P) % P
        h = (h * 31 + cps(i)) % P
        if (h < min) min = h
        i += 1
      }
      min
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cps = ctx.freshName("cps")
      val h = ctx.freshName("h")
      val min = ctx.freshName("min")
      val i = ctx.freshName("i")
      val P = s"${TextHashes.MOD}L"
      val drop = s"${TextHashes.dropPow(window)}L"
      s"""
         |int[] $cps = $a.toString().codePoints().toArray();
         |if ($cps.length < $window) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $h = 0L;
         |  int $i = 0;
         |  for (; $i < $window; $i++) $h = ($h * 31 + $cps[$i]) % $P;
         |  long $min = $h;
         |  for (; $i < $cps.length; $i++) {
         |    $h = ($h - $cps[$i - $window] * $drop % $P + $P) % $P;
         |    $h = ($h * 31 + $cps[$i]) % $P;
         |    if ($h < $min) $min = $h;
         |  }
         |  ${ev.value} = $min;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinWindowHash =
    copy(child = newChild)
}
