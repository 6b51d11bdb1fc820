package graft.functions

import org.apache.spark.sql.functions.udf

/** `hashid` — the public hashids algorithm (hashids.org spec; reference
  * `src/Functions/FunctionHashID.h`, gated there behind
  * `allow_experimental_hash_functions`). Signature
  * `hashid(num[, salt[, minLength[, alphabet]]])`; pinned to the
  * reference's own 02293_hashid goldens in ScalarTranche19Spec
  * (`hashid(1) = 'jR'`, the canonical hashids vector).
  */
object HashId {

  val DefaultAlphabet =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ1234567890"
  private val SepChars = "cfhistuCFHISTU"

  /** The spec's salt-driven consistent shuffle. */
  private def shuffle(str: String, salt: String): String = {
    if (salt.isEmpty || str.length < 2) return str
    val s = str.toCharArray
    var v = 0; var p = 0
    var i = s.length - 1
    while (i > 0) {
      v %= salt.length
      val n = salt.charAt(v).toInt
      p += n
      val j = (n + v + p) % i
      val t = s(i); s(i) = s(j); s(j) = t
      v += 1
      i -= 1
    }
    new String(s)
  }

  private def toAlphabet(n0: Long, alph: String): String = {
    val sb = new StringBuilder
    var n = n0
    do {
      sb.insert(0, alph.charAt((n % alph.length).toInt))
      n /= alph.length
    } while (n > 0)
    sb.toString
  }

  def encode(number: Long, salt: String, minLen: Int, alphabet0: String): String = {
    require(number >= 0, s"hashid: number must be non-negative, got $number")
    // setup (spec §alphabet): dedup, split out separators, balance ratios
    var alphabet = new String(alphabet0.toCharArray.distinct)
    require(alphabet.length >= 16,
      s"hashid: alphabet must hold at least 16 distinct characters")
    require(!alphabet.contains(' '), "hashid: alphabet may not contain spaces")
    var seps = SepChars.filter(alphabet.contains(_))
    alphabet = alphabet.filterNot(seps.contains(_))
    seps = shuffle(seps, salt)
    if (seps.isEmpty || alphabet.length.toDouble / seps.length > 3.5) {
      var sepCount = math.ceil(alphabet.length / 3.5).toInt
      if (sepCount == 0) sepCount = 1
      if (sepCount > seps.length) {
        val diff = sepCount - seps.length
        seps += alphabet.substring(0, diff)
        alphabet = alphabet.substring(diff)
      }
    }
    alphabet = shuffle(alphabet, salt)
    val guardCount = math.ceil(alphabet.length / 12.0).toInt
    var guards = ""
    if (alphabet.length < 3) {
      guards = seps.substring(0, guardCount); seps = seps.substring(guardCount)
    } else {
      guards = alphabet.substring(0, guardCount)
      alphabet = alphabet.substring(guardCount)
    }

    // encode (single number — the reference's arity)
    val numbersHash = number % 100
    val lottery = alphabet.charAt((numbersHash % alphabet.length).toInt)
    val ret = new StringBuilder(lottery.toString)
    var alph = alphabet
    val buf = (lottery + salt + alph).substring(0, alph.length)
    alph = shuffle(alph, buf)
    ret ++= toAlphabet(number, alph)

    if (ret.length < minLen) {
      ret.insert(0, guards.charAt(((numbersHash + ret.charAt(0).toInt) % guards.length).toInt))
      if (ret.length < minLen)
        ret += guards.charAt(((numbersHash + ret.charAt(2).toInt) % guards.length).toInt)
      val half = alph.length / 2
      while (ret.length < minLen) {
        alph = shuffle(alph, alph)
        ret.insert(0, alph.substring(half))
        ret ++= alph.substring(0, half)
        val excess = ret.length - minLen
        if (excess > 0) {
          val pos = excess / 2
          val kept = ret.substring(pos, pos + minLen)
          ret.clear(); ret ++= kept
        }
      }
    }
    ret.toString
  }

  def register(r: FunctionSurface.Registrar): Unit = {
    r.udf("hashidInternal", udf(
      (n: java.lang.Long, salt: String, minLen: Int, alphabet: String) => {
        if (n == null) null
        else {
          require(salt != null && alphabet != null,
            "hashid: salt/alphabet must not be NULL") // ref error 43
          encode(n.longValue, salt, minLen, alphabet)
        }
      }))
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.Literal
    r.expr("hashid") { cs =>
      require(cs.nonEmpty && cs.length <= 4,
        s"hashid(num[, salt[, minLength[, alphabet]]]): got ${cs.length} args")
      val full = cs ++ Seq(Literal(""), Literal(0),
        Literal(DefaultAlphabet)).drop(cs.length - 1)
      UnresolvedFunction("hashidInternal", full, isDistinct = false)
    }
  }
}
