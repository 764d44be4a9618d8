package graft.ops

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.ByteOps
import graft.core.hash.Murmur2Kernel

/** Text-analysis primitives for training-data pipelines, built on the
  * engine's hash kernels. All are deterministic pure functions of the
  * input string, so results are reproducible across runs, partitionings
  * and cluster sizes.
  */
object TextOps {

  /** Java's `\s`: space, \t, \n, \x0B, \f, \r. */
  @inline private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** The tokenizer of every text hash and of the Column-level
    * [[TextAnalysis.tokens]]: the maximal runs of characters outside
    * Java's `\s` (`[ \t\n\x0B\f\r]`), in order — exactly
    * `s.split("\\s+").filter(_.nonEmpty)`, in one scan with no regex.
    * Other control characters and non-ASCII spaces (NBSP) stay inside
    * tokens. */
  def tokens(s: String): Array[String] = {
    val out = Array.newBuilder[String]
    val len = s.length
    var i = 0
    while (i < len) {
      while (i < len && isSpace(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isSpace(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.result()
  }

  /** murmur64 of each token's UTF-8 bytes, in token order. */
  private def tokenHashes(s: String): Array[Long] = {
    val toks = tokens(s)
    val th = new Array[Long](toks.length)
    var t = 0
    while (t < th.length) {
      th(t) = Murmur2Kernel.hash64(ByteOps.utf8(toks(t)))
      t += 1
    }
    th
  }

  /** Shingle identity: the order-sensitive fmix64 chain of the token
    * hashes of each `w`-token window, one per start position, duplicates
    * kept; empty when there are fewer than `w` tokens. A width-1 chain
    * is the token hash itself. */
  private def chains(th: Array[Long], w: Int): Array[Long] = {
    if (th.length < w) return Array.emptyLongArray
    val out = new Array[Long](th.length - w + 1)
    var start = 0
    while (start < out.length) {
      var base = th(start)
      var j = 1
      while (j < w) {
        base = graft.sketch.HllSketch.fmix64(base ^ (th(start + j) * 0xc4ceb9fe1a85ec53L))
        j += 1
      }
      out(start) = base
      start += 1
    }
    out
  }

  /** Insertion-ordered distinct of `hs` through an open-addressed long
    * table (0 = empty slot, so a zero hash is remapped first). Reuses
    * `hs` for the output. */
  private def distinctNonZero(hs: Array[Long]): Array[Long] = {
    var cap = 4
    while (cap < hs.length * 2) cap <<= 1
    val table = new Array[Long](cap)
    val mask = cap - 1
    var m = 0
    var i = 0
    while (i < hs.length) {
      val h = if (hs(i) == 0L) 0x1b873593L else hs(i)
      var slot = ((h ^ (h >>> 32)).toInt) & mask
      while (table(slot) != 0L && table(slot) != h) slot = (slot + 1) & mask
      if (table(slot) == 0L) { table(slot) = h; hs(m) = h; m += 1 }
      i += 1
    }
    if (m == hs.length) hs else java.util.Arrays.copyOf(hs, m)
  }

  /** Per-bit majority vote of 64-bit feature hashes (Charikar 2002); 0
    * for no features. */
  private def simhashVote(hs: Array[Long]): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** 64-bit SimHash over murmur-hashed tokens: the unigram case of
    * [[simhashNgram64]]. Near-duplicate texts land within a small
    * Hamming distance. */
  def simhash64(s: String): Long = simhashNgram64(s, 1)

  /** 64-bit SimHash over order-sensitive token n-grams — the production
    * near-dup signature. Unigram SimHash ([[simhash64]]) collapses on
    * natural-language corpora: Zipf's law means any two documents share
    * the high-frequency word TYPES ("the", "of", ...), and an
    * order-insensitive majority vote over shared types yields
    * near-identical signatures for unrelated documents (measured on a
    * Zipf corpus: 15% of ALL pairs landed within hamming 3 — a
    * quadratic output at scale). N-gram features are order-sensitive,
    * so documents sharing vocabulary but not phrasing decorrelate, while
    * lightly mutated near-copies still share most n-grams (Manku et al.
    * 2007 hash weighted features for the same reason). The votes are
    * over [[gramHashes]]' positional chains (width 1 for a document
    * shorter than `width`) — string-free past tokenization. */
  def simhashNgram64(s: String, width: Int): Long = {
    val th = tokenHashes(s)
    simhashVote(chains(th, if (th.length < width) 1 else width))
  }

  /** k-min-hash signature over token shingles (Broder 1997): element i is
    * the minimum over shingles of h_i(shingle), where the k hash
    * functions derive from ONE murmur64 evaluation per shingle:
    * h_i(x) = fmix64(murmur64(x) XOR c_i), c_i = (i+1)·golden-ratio-odd.
    * XOR with a distinct constant followed by a full avalanche yields an
    * (approximately min-wise independent) family — the standard
    * construction — at 1 strong hash per shingle instead of k. At k=64
    * that removes ~98% of the hash work from the dominant stage of the
    * LSH dedup pipeline (the per-document signature), which is what the
    * whole job spends its time on at corpus scale. (Earlier rounds used
    * the reference's seed-by-index scheme, murmur64(x, seed=i), at 64
    * full murmur runs per shingle; recall/precision tests are unchanged
    * — any well-mixed family passes them.)
    *
    * The shingles are `shingleHashes(s, shingleSize, tokenFallback =
    * true)` — the very set minhashLshPairs' exact verify intersects, so
    * the signature and its verify cannot disagree on what a shingle is.
    * The whole loop is string-free past tokenization (jstack sampling
    * of an earlier string-shingle version showed shingle-string/Set
    * building dominating the murmur work it fed). */
  def minhashSignature(s: String, numHashes: Int, shingleSize: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val sh = shingleHashes(s, shingleSize, tokenFallback = true)
    var k = 0
    while (k < sh.length) {
      var i = 0
      while (i < numHashes) {
        val h = graft.sketch.HllSketch.fmix64(sh(k) ^ ((i + 1) * 0x9e3779b97f4a7c15L))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      k += 1
    }
    sig
  }

  /** Distinct `width`-token shingle IDENTITY HASHES of `s`: the
    * insertion-ordered distinct set of [[gramHashes]]' chains, zero
    * remapped; empty when the document has fewer than `width` tokens.
    * No shingle string is ever materialized: the prefix-filter dedup
    * pipeline (Dedup.ngramPrefixCandidates) does all its frequency
    * counting, rarity ordering and intersection arithmetic on 8-byte
    * longs instead of ~30-byte strings. A 2^-64 identity collision would
    * merge two shingles — the same documented tradeoff as
    * [[graft.ops.Dedup.exactDedup]] / duplicateSpans' hash-only grams.
    *
    * `tokenFallback = true` mirrors [[shingles]]' short-document rule:
    * a document with fewer than `width` tokens contributes its DISTINCT
    * TOKEN hashes (width-1 chains) instead of nothing — the regime
    * [[jaccardShingles]] (and therefore minhashLshPairs' verify)
    * defines. Token hashes and n-gram chain hashes live in the same
    * 64-bit space, so a cross-regime collision is possible at 2^-64 —
    * in string space the two vocabularies are disjoint (tokens cannot
    * contain the space an n-gram string always has); same accepted
    * tradeoff as every hash identity here. */
  def shingleHashes(s: String, width: Int, tokenFallback: Boolean = false): Array[Long] = {
    val th = tokenHashes(s)
    if (th.length >= width) distinctNonZero(chains(th, width))
    else if (tokenFallback) distinctNonZero(chains(th, 1))
    else Array.emptyLongArray
  }

  /** POSITIONAL `width`-token gram identity hashes: element p is the
    * chain hash of the gram starting at token position p (0-based), one
    * element per position, duplicates KEPT — the duplicateSpans shape,
    * where position identity matters and repeats are the signal. Positions
    * are those of [[tokens]], as in the Column-level
    * [[TextAnalysis.tokens]]; empty array when the document has fewer
    * than `width` tokens. */
  def gramHashes(s: String, width: Int): Array[Long] = chains(tokenHashes(s), width)

  def shingles(s: String, size: Int): Set[String] = {
    val toks = tokens(s)
    if (toks.length < size) toks.toSet
    else toks.sliding(size).map(_.mkString(" ")).toSet
  }

  /** Exact Jaccard similarity of token shingle sets. */
  def jaccardShingles(a: String, b: String, size: Int): Double = {
    val sa = shingles(a, size)
    val sb = shingles(b, size)
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  /** Rolling Karp-Rabin document fingerprint over normalized tokens:
    * order-sensitive (unlike minhash), so it distinguishes permutations;
    * stable under whitespace/case noise. */
  def fingerprint(s: String): Long = {
    val toks = tokens(s)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < toks.length) {
      h = h * 0x100000001b3L + Murmur2Kernel.hash64(
        toks(i).toLowerCase(java.util.Locale.ROOT))
      i += 1
    }
    h
  }

  // ---- language identification (trigram + stopword heuristic) ----

  // ORDERED: first profile wins score ties (the vote replaces only on
  // strictly-greater), so the order is part of the function's contract —
  // a Map here would tie-break by HashMap iteration order, opaque to the
  // SQL oracle that recomputes this vote (lang_id_exact)
  private val StopwordProfiles: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "of", "and", "to", "in", "is", "it", "that", "for", "was", "with", "are", "this", "you", "not"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "un", "une", "est", "que", "pour", "dans", "qui", "pas", "sur"),
    "es" -> Set("el", "la", "los", "las", "de", "y", "que", "en", "un", "una", "es", "por", "con", "para", "no"),
    "de" -> Set("der", "die", "das", "und", "ist", "von", "mit", "nicht", "ein", "eine", "zu", "den", "auf", "fur", "sich"),
    "it" -> Set("il", "la", "di", "e", "che", "un", "una", "per", "non", "sono", "con", "del", "le", "si", "da"))

  /** Heuristic language ID: CJK scripts by code point; otherwise the
    * stopword profile with the highest hit ratio; "und" when nothing
    * scores. Cheap, deterministic, and honest about being a heuristic —
    * a real pipeline would swap in a fastText-style model here. */
  def langId(s: String): String = {
    if (s.isEmpty) return "und"
    var cjk = 0
    var total = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!Character.isWhitespace(c)) {
        total += 1
        val block = Character.UnicodeScript.of(c.toInt)
        if (block == Character.UnicodeScript.HAN) cjk += 1
        else if (block == Character.UnicodeScript.HIRAGANA ||
          block == Character.UnicodeScript.KATAKANA) return "ja"
        else if (block == Character.UnicodeScript.HANGUL) return "ko"
      }
      i += 1
    }
    if (total > 0 && cjk.toDouble / total > 0.25) return "zh"
    // Locale.ROOT: the default-locale overload turns "IS" into "ıs"
    // under a Turkish JVM locale — results must not depend on the host
    val toks = tokens(s.toLowerCase(java.util.Locale.ROOT))
    if (toks.isEmpty) return "und"
    var best = "und"
    var bestScore = 0.0
    StopwordProfiles.foreach { case (lang, words) =>
      val hits = toks.count(words.contains)
      val score = hits.toDouble / toks.length
      if (score > bestScore) { best = lang; bestScore = score }
    }
    if (bestScore >= 0.05) best else "und"
  }
}

/** The shape every text expression shares: string arguments, null in ->
  * null out, and generated code that calls back into the expression
  * object's `compute` over the decoded argument strings. A case class
  * supplies its dataType, its compute and any argument checks. */
private[ops] trait TextExpression extends Expression {
  /** An argument check beyond the string types: a message fails analysis. */
  protected def argError: Option[String] = None

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    argError.map(m => TypeCheckResult.TypeCheckFailure(s"$prettyName $m"))
      .orElse(children.map(_.dataType).collectFirst {
        case dt if dt != StringType => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string argument, got ${dt.catalogString}")
      })
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  /** Generated call of `compute` on the children's generated values. */
  protected final def computeCode(ctx: CodegenContext, args: String*): String = {
    val ref = ctx.addReferenceObj("textExpr", this, getClass.getName)
    s"(${CodeGenerator.boxedType(dataType)}) " +
      s"$ref.compute(${args.map(a => s"$a.toString()").mkString(", ")})"
  }
}

private[ops] trait UnaryTextExpression extends UnaryExpression with TextExpression {
  def compute(s: String): Any
  override protected def nullSafeEval(v: Any): Any = compute(v.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => computeCode(ctx, c))
}

/** `tokens(text)` -> array<string>: the [[TextOps.tokens]] split, the
  * Column-level tokenizer of every text operator. */
case class Tokens(child: Expression) extends UnaryTextExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokens"
  def compute(s: String): Any =
    new GenericArrayData(TextOps.tokens(s).map[Any](UTF8String.fromString))
  override protected def withNewChildInternal(c: Expression): Tokens = copy(child = c)
}

/** `simhash_ngram64(text, width)` — order-sensitive n-gram SimHash (the
  * production near-dup signature; see TextOps.simhashNgram64). */
case class SimHashNgram64(child: Expression, width: Int) extends UnaryTextExpression {
  override protected def argError: Option[String] =
    if (width < 1) Some("width must be >= 1") else None
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_ngram64"
  def compute(s: String): Any = TextOps.simhashNgram64(s, width)
  override protected def withNewChildInternal(c: Expression): SimHashNgram64 = copy(child = c)
}

/** `minhash_sig(text, numHashes, shingleSize)` -> array<long>; the two
  * size arguments must be foldable ints. */
case class MinHashSig(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryTextExpression {
  override protected def argError: Option[String] =
    if (numHashes < 1 || shingleSize < 1) Some("sizes must be >= 1") else None
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  def compute(s: String): Any =
    new GenericArrayData(TextOps.minhashSignature(s, numHashes, shingleSize))
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** `shingle_hashes(text, width)` -> array<long>: distinct order-sensitive
  * n-gram identity hashes (see TextOps.shingleHashes; `tokenFallback`
  * mirrors the jaccardShingles short-document token-set rule). */
case class ShingleHashes(child: Expression, width: Int,
    tokenFallback: Boolean = false) extends UnaryTextExpression {
  override protected def argError: Option[String] =
    if (width < 1) Some("width must be >= 1") else None
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  def compute(s: String): Any =
    new GenericArrayData(TextOps.shingleHashes(s, width, tokenFallback))
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

/** `gram_hashes(text, width)` -> array<long>: positional n-gram identity
  * hashes, one per token position, duplicates kept (TextOps.gramHashes). */
case class GramHashes(child: Expression, width: Int) extends UnaryTextExpression {
  override protected def argError: Option[String] =
    if (width < 1) Some("width must be >= 1") else None
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"
  def compute(s: String): Any = new GenericArrayData(TextOps.gramHashes(s, width))
  override protected def withNewChildInternal(c: Expression): GramHashes = copy(child = c)
}

/** `fingerprint64(text)` — rolling Karp-Rabin token fingerprint. */
case class Fingerprint64(child: Expression) extends UnaryTextExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "fingerprint64"
  def compute(s: String): Any = TextOps.fingerprint(s)
  override protected def withNewChildInternal(c: Expression): Fingerprint64 = copy(child = c)
}

/** `lang_id(text)` — heuristic language code. */
case class LangId(child: Expression) extends UnaryTextExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"
  def compute(s: String): Any = UTF8String.fromString(TextOps.langId(s))
  override protected def withNewChildInternal(c: Expression): LangId = copy(child = c)
}

/** `jaccard_shingles(a, b, size)` — exact token-shingle Jaccard. */
case class JaccardShingles(left: Expression, right: Expression, shingleSize: Int)
    extends BinaryExpression with TextExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_shingles"
  def compute(a: String, b: String): Any = TextOps.jaccardShingles(a, b, shingleSize)
  override protected def nullSafeEval(a: Any, b: Any): Any = compute(a.toString, b.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => computeCode(ctx, a, b))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardShingles =
    copy(left = l, right = r)
}
