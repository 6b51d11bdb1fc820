package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.functions.udf

/** `multiFuzzyMatchAny` / `multiFuzzyMatchAnyIndex` /
  * `multiFuzzyMatchAllIndices` — approximate (edit-distance) multi-regex
  * matching (reference `src/Functions/MultiMatchAnyImpl.h`, backed there
  * by vectorscan's HS_FLAG_EDIT_DISTANCE; the semantics and error
  * contracts are pinned to the reference's own
  * `00929_multi_match_edit_distance` goldens in FuzzyRegexSpec).
  *
  * From-scratch engine, classic construction (Thompson 1968 NFA +
  * Wu–Manber 1992 approximate simulation — public literature):
  *
  *  1. parse the regex subset the reference's tests exercise (literals,
  *     escapes, `.`, classes, groups, alternation, `* + ? {n,m}`
  *     quantifiers, `^`/`$` anchors — anchors are NFA nodes, so a `$`
  *     inside an alternation branch works) into an instruction-array NFA;
  *  2. simulate with a per-state minimum-edit vector: exact step on a
  *     matching char; substitution (advance on a mismatch, +1);
  *     insertion (consume a haystack char in place, +1); deletion
  *     (advance over a pattern char without consuming, +1, applied in
  *     the ε-closure). Unanchored search = re-inject the start state at
  *     every position and accept at every position; `^`/`$` gate on
  *     position inside the closure.
  *
  * Cost: O(len × states × 1) per (row, pattern) with states ≈ pattern
  * length — a scan-stage scalar, no shuffle. Compiled programs are
  * memoized process-wide (patterns are query literals, cardinality is
  * tiny; the cache is capped defensively).
  *
  * Reference error contracts (same goldens): negative distance and a
  * distance ≥ the pattern's minimum match width are rejected — vectorscan
  * requires the edit distance to be smaller than every pattern's minimum
  * width, which is why `('abc', 3, ['a1c'])` errors while
  * `('halo some wrld', 3, ['^hello.*world$'])` does not.
  */
object FuzzyRegex {

  // ---------------------------------------------------------------- AST
  private sealed trait Ast
  private case class Lit(p: Char => Boolean) extends Ast
  private case class Cat(xs: List[Ast]) extends Ast
  private case class Alt(a: Ast, b: Ast) extends Ast
  private case class Rep(x: Ast, min: Int, max: Int) extends Ast // max -1 = inf
  private case object Begin extends Ast
  private case object End extends Ast

  private def parse(pattern: String): Ast = {
    var i = 0
    def peek: Char = pattern.charAt(i)
    def more: Boolean = i < pattern.length
    def expect(c: Char): Unit = {
      require(more && peek == c, s"fuzzy regex: expected '$c' at $i in $pattern")
      i += 1
    }

    def classEsc(c: Char): Option[Char => Boolean] = c match {
      case 'd' => Some(ch => ch >= '0' && ch <= '9')
      case 'D' => Some(ch => !(ch >= '0' && ch <= '9'))
      case 'w' => Some(ch => Character.isLetterOrDigit(ch) || ch == '_')
      case 'W' => Some(ch => !(Character.isLetterOrDigit(ch) || ch == '_'))
      case 's' => Some(Character.isWhitespace)
      case 'S' => Some(ch => !Character.isWhitespace(ch))
      case _ => None
    }
    def escLiteral(c: Char): Char = c match {
      case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'; case '0' => '\u0000'
      case other => other // \. \\ \/ \[ \( ... literal self
    }

    def charClass(): Ast = { // at '['
      expect('[')
      val negate = more && peek == '^'
      if (negate) i += 1
      val preds = List.newBuilder[Char => Boolean]
      var first = true
      while (more && (peek != ']' || first)) {
        first = false
        if (peek == '\\') {
          i += 1
          require(more, s"fuzzy regex: dangling escape in class, $pattern")
          val e = peek; i += 1
          classEsc(e) match {
            case Some(p) => preds += p // \d-style predicate: never a range end
            case None =>
              val lit = escLiteral(e)
              preds += (ch => ch == lit)
          }
        } else {
          val lo = peek; i += 1
          if (more && peek == '-' && i + 1 < pattern.length &&
              pattern.charAt(i + 1) != ']') {
            i += 1; val hi = peek; i += 1
            preds += (ch => ch >= lo && ch <= hi)
          } else {
            preds += (ch => ch == lo)
          }
        }
      }
      expect(']')
      val ps = preds.result()
      val any: Char => Boolean = ch => ps.exists(_(ch))
      Lit(if (negate) ch => !any(ch) else any)
    }

    def atom(): Ast = peek match {
      case '(' => expect('('); val a = alt(); expect(')'); a
      case '[' => charClass()
      case '.' => i += 1; Lit(_ => true)
      case '^' => i += 1; Begin
      case '$' => i += 1; End
      case '\\' =>
        i += 1
        require(more, s"fuzzy regex: dangling escape in $pattern")
        val e = peek; i += 1
        classEsc(e) match {
          case Some(p) => Lit(p)
          case None => val l = escLiteral(e); Lit(_ == l)
        }
      case c =>
        i += 1; Lit(_ == c)
    }

    def quantified(): Ast = {
      var a = atom()
      var looping = true
      while (more && looping) {
        peek match {
          case '*' => i += 1; a = Rep(a, 0, -1)
          case '+' => i += 1; a = Rep(a, 1, -1)
          case '?' => i += 1; a = Rep(a, 0, 1)
          case '{' =>
            i += 1
            val start = i
            while (more && peek != '}') i += 1
            require(more, s"fuzzy regex: unterminated {{ in $pattern")
            val body = pattern.substring(start, i)
            expect('}')
            val parts = body.split(",", -1)
            val lo = parts(0).trim.toInt
            val hi =
              if (parts.length == 1) lo
              else if (parts(1).trim.isEmpty) -1
              else parts(1).trim.toInt
            require(lo >= 0 && (hi == -1 || hi >= lo) && (hi == -1 || hi <= 64),
              s"fuzzy regex: bad quantifier {$body}")
            a = Rep(a, lo, hi)
          case _ => looping = false
        }
      }
      a
    }

    def cat(): Ast = {
      val xs = List.newBuilder[Ast]
      while (more && peek != '|' && peek != ')') xs += quantified()
      Cat(xs.result())
    }

    def alt(): Ast = {
      var a = cat()
      while (more && peek == '|') { i += 1; a = Alt(a, cat()) }
      a
    }

    val result = alt()
    require(i == pattern.length, s"fuzzy regex: trailing input at $i in $pattern")
    result
  }

  /** Minimum match width — vectorscan rejects edit distances >= this. */
  private def minWidth(a: Ast): Int = a match {
    case Lit(_) => 1
    case Cat(xs) => xs.map(minWidth).sum
    case Alt(x, y) => math.min(minWidth(x), minWidth(y))
    case Rep(x, lo, _) => lo * minWidth(x)
    case Begin | End => 0
  }

  // ---------------------------------------------------------------- NFA
  private sealed trait Inst
  private case class IChar(p: Char => Boolean) extends Inst
  private case class ISplit(a: Int, b: Int) extends Inst
  private case class IJmp(t: Int) extends Inst
  private case object IBegin extends Inst
  private case object IEnd extends Inst
  private case object IMatch extends Inst

  private final class Prog(val insts: Array[Inst], val minW: Int)

  private def compile(pattern: String): Prog = {
    val ast = parse(pattern)
    val out = scala.collection.mutable.ArrayBuffer[Inst]()
    def emit(a: Ast): Unit = a match {
      case Lit(p) => out += IChar(p)
      case Begin => out += IBegin
      case End => out += IEnd
      case Cat(xs) => xs.foreach(emit)
      case Alt(x, y) =>
        val split = out.length; out += null
        emit(x)
        val jmp = out.length; out += null
        val yStart = out.length
        emit(y)
        out(split) = ISplit(split + 1, yStart)
        out(jmp) = IJmp(out.length)
      case Rep(x, lo, hi) =>
        (0 until lo).foreach(_ => emit(x))
        if (hi == -1) { // x*
          val split = out.length; out += null
          emit(x)
          out += IJmp(split)
          out(split) = ISplit(split + 1, out.length)
        } else {
          // (hi - lo) optional copies
          val exits = scala.collection.mutable.ArrayBuffer[Int]()
          (0 until hi - lo).foreach { _ =>
            val split = out.length; out += null
            exits += split
            emit(x)
          }
          val end = out.length
          exits.foreach(s => out(s) = ISplit(s + 1, end))
        }
    }
    emit(ast)
    out += IMatch
    new Prog(out.toArray, minWidth(ast))
  }

  private val cache = new ConcurrentHashMap[String, Prog]()
  private def compiled(pattern: String): Prog = {
    if (cache.size > 10000) cache.clear() // defensive cap; patterns are literals
    cache.computeIfAbsent(pattern, compile(_))
  }

  // ---------------------------------------------------------- simulation
  /** True iff some substring of `hay` is within `maxDist` edits of a
    * string in the pattern's language (anchors restrict position).
    */
  def matches(hay: String, pattern: String, maxDist: Int): Boolean = {
    val prog = compiled(pattern)
    require(maxDist >= 0, "max edit distance must be non-negative")
    require(maxDist < math.max(prog.minW, 1),
      s"max edit distance ($maxDist) must be smaller than the pattern's " +
        s"minimum match width (${prog.minW}) — the reference (vectorscan) " +
        "contract, 00929 golden")
    val insts = prog.insts
    val n = insts.length
    val len = hay.length
    var cur = Array.fill(n)(-1)
    var next = Array.fill(n)(-1)
    @inline def relax(arr: Array[Int], s: Int, e: Int): Boolean =
      if (arr(s) == -1 || arr(s) > e) { arr(s) = e; true } else false

    def closure(arr: Array[Int], pos: Int): Unit = {
      var changed = true
      while (changed) {
        changed = false
        var s = 0
        while (s < n) {
          val e = arr(s)
          if (e >= 0) insts(s) match {
            case ISplit(a, b) =>
              if (relax(arr, a, e)) changed = true
              if (relax(arr, b, e)) changed = true
            case IJmp(t) => if (relax(arr, t, e)) changed = true
            case IBegin => if (pos == 0 && relax(arr, s + 1, e)) changed = true
            case IEnd => if (pos == len && relax(arr, s + 1, e)) changed = true
            case IChar(_) => // deletion: skip a pattern char, +1 edit
              if (e + 1 <= maxDist && relax(arr, s + 1, e + 1)) changed = true
            case IMatch =>
          }
          s += 1
        }
      }
    }

    var pos = 0
    while (pos <= len) {
      relax(cur, 0, 0) // unanchored start: re-inject at every position
      closure(cur, pos)
      if (cur(n - 1) >= 0 && cur(n - 1) <= maxDist) return true
      if (pos == len) return false
      val c = hay.charAt(pos)
      java.util.Arrays.fill(next, -1)
      var s = 0
      while (s < n) {
        val e = cur(s)
        if (e >= 0) {
          insts(s) match {
            case IChar(p) =>
              if (p(c)) relax(next, s + 1, e) // exact
              else if (e + 1 <= maxDist) relax(next, s + 1, e + 1) // substitution
            case _ =>
          }
          if (e + 1 <= maxDist) relax(next, s, e + 1) // insertion
        }
        s += 1
      }
      val t = cur; cur = next; next = t
      pos += 1
    }
    false
  }

  /** 1-based indices of every pattern matching within `maxDist`. */
  def allIndices(hay: String, maxDist: Int, patterns: Seq[String]): Seq[Long] =
    patterns.zipWithIndex.collect {
      case (p, i) if matches(hay, p, maxDist) => (i + 1).toLong
    }

  def register(r: FunctionSurface.Registrar): Unit = {
    // evaluate EVERY pattern (no short-circuit): the reference validates
    // the whole pattern set at compile time, so a bad distance/pattern
    // errors even when an earlier pattern already matched
    r.udf("multiFuzzyMatchAny", udf(
      (h: String, d: Int, ps: Seq[String]) =>
        if (h == null || ps == null) null
        else java.lang.Boolean.valueOf(
          ps.map(matches(h, _, d)).contains(true))))
    r.udf("multiFuzzyMatchAnyIndex", udf(
      (h: String, d: Int, ps: Seq[String]) =>
        if (h == null || ps == null) null
        else java.lang.Long.valueOf(
          ps.map(matches(h, _, d)).indexOf(true) match {
            case -1 => 0L
            case i => (i + 1).toLong
          })))
    r.udf("multiFuzzyMatchAllIndices", udf(
      (h: String, d: Int, ps: Seq[String]) =>
        if (h == null || ps == null) null else allIndices(h, d, ps)))
  }
}
