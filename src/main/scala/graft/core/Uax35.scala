package graft.core

import java.util.regex.{Matcher, Pattern}

/** UAX-35 (CLDR TR35) number- and date-pattern parsing, re-expressed from the
  * behavior of the reference implementation (`/root/reference/lib/rdf/tabular/uax35.rb`)
  * and the public Unicode TR35 spec.
  *
  * Both entry points are pure `String => Either[error, canonicalLexical]`
  * functions whose expensive state (the compiled regex) is built once per
  * column at plan time ([[Uax35Number.compile]] / [[Uax35Date.compile]]) and
  * shared by every row, unlike the reference which recompiles per cell
  * (`uax35.rb:196`).
  */
object Uax35 {
  /** Shared precompiled whitespace-run pattern (hot-path: one use per
    * parsed number; `String.replaceAll` would recompile it per call). */
  private[core] val WsRun = java.util.regex.Pattern.compile("\\s+")
}

/** Number patterns: `0 # , . E % ‰` grammar per UAX-35 §3 (Number Format Patterns).
  * Cited behavior: `/root/reference/lib/rdf/tabular/uax35.rb:193-424`.
  */
object Uax35Number {

  /** Plan-time compiled matcher for one (pattern, groupChar, decimalChar) triple. */
  final case class Compiled(
      pattern: Option[String],
      groupChar: String,
      decimalChar: String,
      regex: Pattern) extends Serializable {

    /** Parse one lexical value.
      * @return Right(canonical lexical form: group chars stripped, decimal char
      *         normalized to '.', %/‰ decimal-shifted, NaN/exponent casing fixed)
      *         or Left(error message).
      */
    def parse(rawValue: String): Either[String, String] = {
      val raw = if (rawValue == null) "" else rawValue
      if (groupChar.length == 1 && raw.contains(groupChar * 2))
        return Left(s"$raw has repeating '$groupChar'")

      val up = raw.toUpperCase
      val m = regex.matcher(up)
      val cleaned: String =
        if (m.matches()) {
          // precompiled pattern: String.replaceAll would compile "\s+" on
          // every parsed number (round 9 — this is the per-cell hot path)
          Uax35.WsRun.matcher(up).replaceAll("")
            .replace(groupChar, "")
            .replace(decimalChar, ".")
        } else if (up.nonEmpty) {
          return Left(s"'$raw' does not match ${pattern.getOrElse("default")}")
        } else ""

      Right(postProcess(cleaned))
    }

    /** %/‰ decimal shifting + NaN / exponent-char normalization. */
    private def postProcess(v: String): String = {
      def shift(s: String, places: Int): String = {
        val dot = s.indexOf('.')
        val (lhs, rhs) = if (dot >= 0) (s.substring(0, dot), s.substring(dot + 1)) else (s, "")
        val res =
          if (lhs.length <= places) "0." + ("0" * (places - lhs.length)) + lhs + rhs
          else {
            var ll = lhs.substring(0, lhs.length - places)
            val lr = lhs.substring(lhs.length - places)
            if (!ll.exists(_.isDigit)) ll = ll + "0"
            ll + "." + lr + rhs
          }
        res.replaceFirst("E", "e")
      }
      if (v.contains('%')) shift(v.replace("%", ""), 2)
      else if (v.contains('‰')) shift(v.replace("‰", ""), 3)
      else if (v.contains("NAN")) v.replace("NAN", "NaN")
      else if (v.contains('E')) v.replaceFirst("E", "e")
      else v
    }
  }

  /** Ruby-style split: trailing empty strings dropped, leading kept. */
  private def rsplit(s: String, sep: String): Array[String] =
    if (sep.isEmpty) Array(s) else s.split(Pattern.quote(sep), -1).reverse.dropWhile(_.isEmpty).reverse

  /** Compile a UAX-35 number pattern to a regex, mirroring the grouping
    * semantics of the reference compiler (`uax35.rb:262-424`). Throws
    * IllegalArgumentException on a malformed pattern (plan-time error).
    */
  def compile(patternOpt: Option[String], groupChar: String = ",", decimalChar: String = "."): Compiled = {
    val ge = Pattern.quote(groupChar)
    val de = Pattern.quote(decimalChar)

    patternOpt match {
      case None =>
        // groupChar inside a char-class needs escaping only for ] ^ \ - [
        val cls = groupChar.flatMap {
          case c @ (']' | '^' | '\\' | '-' | '[') => "\\" + c
          case c => c.toString
        }
        val re = Pattern.compile(
          s"^([+-]?[\\d$cls]+($de[\\d$cls]+([Ee][+-]?\\d+)?)?[%‰]?|NAN|INF|-INF)$$")
        Compiled(None, groupChar, decimalChar, re)

      case Some(pat) =>
        // Split pattern into prefix / numeric part / suffix.
        val numericPart = new StringBuilder
        var i = 0
        // prefix: everything before the first '#' or '0'
        val firstNum = pat.indexWhere(c => c == '#' || c == '0')
        if (firstNum < 0) throw new IllegalArgumentException(s"unrecognized number pattern $pat")
        val prefixRaw = pat.substring(0, firstNum)
        // numeric body: greedily consume the mantissa/fraction/exponent grammar
        i = firstNum
        def isG(c: Char) = groupChar.length == 1 && c == groupChar.head
        def isD(c: Char) = decimalChar.length == 1 && c == decimalChar.head
        def takeWhileIn(pred: Char => Boolean): Unit = { while (i < pat.length && pred(pat(i))) { numericPart += pat(i); i += 1 } }
        takeWhileIn(c => c == '#' || isG(c))
        takeWhileIn(c => c == '0' || isG(c))
        if (i < pat.length && isD(pat(i))) {
          numericPart += pat(i); i += 1
          takeWhileIn(c => c == '0' || isG(c))
          takeWhileIn(c => c == '#' || isG(c))
          if (i < pat.length && pat(i) == 'E') {
            numericPart += 'E'; i += 1
            if (i < pat.length && (pat(i) == '+' || pat(i) == '-')) { numericPart += pat(i); i += 1 }
            takeWhileIn(c => c == '#' || isG(c))
            takeWhileIn(c => c == '0' || isG(c))
          }
        }
        val suffixRaw = pat.substring(i)
        val numeric = numericPart.toString
        if (numeric.isEmpty) throw new IllegalArgumentException(s"unrecognized number pattern $pat")

        var prefix = if (prefixRaw.isEmpty) "" else Pattern.quote(prefixRaw)
        if (!prefixRaw.exists(c => c == '+' || c == '-')) prefix += "[+-]?"
        val suffix = if (suffixRaw.isEmpty) "" else Pattern.quote(suffixRaw)

        val eParts = numeric.split("E", 2)
        val mantissaPart = eParts(0)
        val exponentPart = if (eParts.length > 1) eParts(1) else ""

        val mantissaParts = rsplit(mantissaPart, decimalChar)
        if (mantissaParts.length > 2)
          throw new IllegalArgumentException(s"Multiple decimal separators in $pat")
        val integerPart = mantissaParts(0)
        val fractionalPart = if (mantissaParts.length > 1) mantissaParts(1) else ""

        def stripG(s: String) = s.replace(groupChar, "")
        var minIntegerDigits = stripG(integerPart).replace("#", "").length
        var allIntegerDigits = stripG(integerPart).length
        if (allIntegerDigits == minIntegerDigits) allIntegerDigits += 1
        var minFractionalDigits = stripG(fractionalPart).replace("#", "").length
        var maxFractionalDigits = stripG(fractionalPart).length
        val exponentSign: Option[Char] =
          exponentPart.headOption.filter(c => c == '+' || c == '-')
        val minExponentDigits = exponentPart.dropWhile(c => c == '+' || c == '-').replace("#", "").length
        val maxExponentDigits = exponentPart.dropWhile(c => c == '+' || c == '-').length

        val integerGroups = rsplit(integerPart, groupChar).drop(1)
        var primaryGroupingSize = integerGroups.lastOption.map(_.length).getOrElse(0)
        val secondaryGroupingSize =
          if (integerGroups.length <= 1) primaryGroupingSize
          else integerGroups(integerGroups.length - 2).length

        val fractionalGroups = rsplit(fractionalPart, groupChar).dropRight(1)
        val fractionalGroupingSize = fractionalGroups.headOption.map(_.length).getOrElse(0)

        // ---- integer regex
        val integerStr: String =
          if (primaryGroupingSize == 0) s"\\d{$minIntegerDigits,}"
          else {
            var pgs = primaryGroupingSize
            var integerRem = 0
            var requiredParts = List.empty[String]
            while (minIntegerDigits > 0) {
              val sz = math.min(pgs, minIntegerDigits)
              integerRem = pgs - sz
              requiredParts ::= s"\\d{$sz}"   // reverse-accumulate
              minIntegerDigits -= sz
              allIntegerDigits -= sz
              pgs = secondaryGroupingSize
            }
            val requiredDigits = requiredParts.mkString(ge) // already reversed
            if (allIntegerDigits > 0) {
              var optParts = Vector.empty[String]
              var rem = integerRem
              while (rem > 0) { optParts :+= "\\d"; rem -= 1 }
              if (secondaryGroupingSize != pgs) {
                pgs = secondaryGroupingSize
                rem = pgs - 1
                optParts :+= ("\\d" + ge)
                while (rem > 0) { optParts :+= "\\d"; rem -= 1 }
              }
              val optDigits =
                if (optParts.isEmpty)
                  s"(?:\\d{1,$pgs}$ge)?(?:\\d{$pgs}$ge)*"
                else {
                  val updated = optParts.updated(optParts.length - 1,
                    s"(?:\\d{1,$pgs}$ge)?(?:\\d{$pgs}$ge)*${optParts.last}")
                  updated.reverse.foldLeft("") { (memo, part) => s"(?:$memo$part)?" }
                }
              optDigits + requiredDigits
            } else requiredDigits
          }

        // ---- fractional regex
        var fractionalStr: String =
          if (maxFractionalDigits > 0) {
            if (fractionalGroupingSize == 0) {
              if (minFractionalDigits == maxFractionalDigits) s"\\d{$maxFractionalDigits}"
              else s"\\d{$minFractionalDigits,$maxFractionalDigits}"
            } else {
              var fracRem = 0
              var requiredParts = Vector.empty[String]
              var maxLeft = maxFractionalDigits
              while (minFractionalDigits > 0) {
                val sz = math.min(fractionalGroupingSize, minFractionalDigits)
                fracRem = fractionalGroupingSize - sz
                requiredParts :+= s"\\d{$sz}"
                maxLeft -= sz
                minFractionalDigits -= sz
              }
              val requiredDigits = requiredParts.mkString(ge)
              var optParts = Vector.empty[String]
              while (maxLeft > 0) {
                optParts :+= (if (fracRem == 0) ge + "\\d" else "\\d")
                maxLeft -= 1
                fracRem = (((fracRem - 1) % fractionalGroupingSize) + fractionalGroupingSize) % fractionalGroupingSize
              }
              val optDigits = optParts.reverse.foldLeft("") { (memo, part) => s"(?:$part$memo)?" }
              requiredDigits + optDigits
            }
          } else ""
        // optional-wrap only applies to ungrouped fractions (the grouped
        // construction consumes its digit budget, making the part required)
        val wrapOptional = fractionalGroupingSize == 0 &&
          maxFractionalDigits > 0 && stripG(fractionalPart).replace("#", "").isEmpty
        if (fractionalStr.nonEmpty) fractionalStr = de + fractionalStr
        if (wrapOptional) fractionalStr = s"(?:$fractionalStr)?"

        // ---- exponent regex
        val exponentStr: String =
          if (maxExponentDigits > 0) {
            val sign = exponentSign.map(c => Pattern.quote(c.toString)).getOrElse("[+-]?")
            if (maxExponentDigits == minExponentDigits) s"E$sign\\d{$maxExponentDigits}"
            else s"E$sign\\d{$minExponentDigits,$maxExponentDigits}"
          } else ""

        val full = s"^($prefix)($integerStr$fractionalStr$exponentStr)($suffix)$$"
        Compiled(Some(pat), groupChar, decimalChar, Pattern.compile(full))
    }
  }
}

/** Date/time patterns: the fixed whitelist the reference supports
  * (`uax35.rb:52-181`): 27 date forms, 5 time forms, fractional-second
  * variants, and `x/xx/xxx/X/XX/XXX` timezone suffixes, with 2-digit-year
  * windowing (≤69→2000s, 70–99→1900s) and canonical XSD lexical output.
  */
object Uax35Date {

  /** Plan-time compiled date pattern. */
  final case class Compiled(pattern: String) extends Serializable {
    // decomposed at construction; throws IllegalArgumentException on bad pattern
    private val (datePattern, timePattern, tzPattern): (Option[String], Option[String], Option[String]) = {
      var pat = pattern
      var tz: Option[String] = None
      val tzMatch = Pattern.compile("^(.*[dyms])(\\s*[xX]+)$").matcher(pat)
      if (tzMatch.matches()) { pat = tzMatch.group(1); tz = Some(tzMatch.group(2)) }
      val parts = pat.split(" ", 2)
      var (dp, tp): (Option[String], Option[String]) =
        if (parts.length == 2) (Some(parts(0)), Some(parts(1))) else (Some(parts(0)), None)
      if (tp.isEmpty && !dp.exists(p => p.exists(c => "TyMd".contains(c)))) { tp = dp; dp = None }
      // validate eagerly
      dp.foreach(p => if (dateRegex(p).isEmpty) throw new IllegalArgumentException(s"unrecognized date/time pattern $p"))
      tp.foreach(p => if (timeRegex(p).isEmpty) throw new IllegalArgumentException(s"unrecognized date/time pattern $p"))
      tz.foreach(p => if (tzRegex(p.trim).isEmpty) throw new IllegalArgumentException(s"unrecognized timezone pattern ${p.trim}"))
      (dp, tp, tz)
    }

    private val dateRe: Option[Pattern] = datePattern.flatMap(dateRegex)
    private val timeRe: Option[Pattern] = timePattern.flatMap(timeRegex)
    private val tzRe: Option[Pattern] = tzPattern.flatMap(p => tzRegex(p.trim))
    // per-sub-pattern fractional-second limits: a combined pattern like
    // "yyyy-MM-dd HH:mm:ss.SSS" carries its S-run on the *time* sub-pattern,
    // so each matcher must be checked against its own limit
    private def msLimit(p: Option[String]): Int = {
      val s = p.getOrElse("")
      val idx = s.indexOf("S")
      if (idx < 0) 0 else s.substring(idx).takeWhile(_ == 'S').length
    }
    private val dateMaxMs: Int = msLimit(datePattern)
    private val timeMaxMs: Int = msLimit(timePattern)

    /** @return Right(canonical XSD lexical) or Left(error). */
    def parse(rawValue: String): Either[String, String] = {
      val orig = if (rawValue == null) "" else rawValue
      var value = orig
      def fail = Left(s"$orig does not match pattern $pattern")

      var dateM: Option[Matcher] = None
      dateRe.foreach { re =>
        val m = re.matcher(value)
        if (m.lookingAt()) {
          val ok = if (dateMaxMs > 0 && groupOrEmpty(m, "ms").nonEmpty) groupOrEmpty(m, "ms").length <= dateMaxMs else true
          if (ok) {
            dateM = Some(m)
            value = value.substring(m.end())
            if (value.startsWith(" ")) value = value.dropWhile(_ == ' ')
          }
        }
      }
      if (orig.nonEmpty && datePattern.isDefined && dateM.isEmpty) return fail

      var timeM: Option[Matcher] = None
      timeRe.foreach { re =>
        val m = re.matcher(value)
        if (m.lookingAt()) {
          val ok = if (timeMaxMs > 0 && groupOrEmpty(m, "ms").nonEmpty) groupOrEmpty(m, "ms").length <= timeMaxMs else true
          if (ok) { timeM = Some(m); value = value.substring(m.end()) }
        }
      }
      if (orig.nonEmpty && timePattern.isDefined && timeM.isEmpty) return fail

      // combined datetime patterns carry the time groups on the date matcher
      val timeSrc: Option[Matcher] =
        if (dateM.exists(m => hasGroup(m, "hr"))) dateM else timeM

      if (tzPattern.exists(_.startsWith(" "))) value = value.dropWhile(_ == ' ')
      var tzM: Option[Matcher] = None
      tzRe.foreach { re =>
        val m = re.matcher(value)
        if (m.matches()) { tzM = Some(m); value = "" }
      }
      if (orig.nonEmpty && tzPattern.isDefined && tzM.isEmpty) return fail
      // NOTE: unconsumed trailing text is dropped (reference behavior) —
      // malformed composites are caught by the XSD lexical validity check
      // downstream, exactly as in the reference.

      val vd = dateM.map { m =>
        var yr = groupOrEmpty(m, "yr").toInt
        val mo = groupOrEmpty(m, "mo").toInt
        val da = groupOrEmpty(m, "da").toInt
        if (groupOrEmpty(m, "yr").length < 4) {
          yr = if (yr <= 69) yr + 2000
          else if (yr >= 100 && yr <= 999) yr + 2000
          else if (yr >= 70 && yr <= 99) yr + 1900
          else yr
        }
        f"$yr%04d-$mo%02d-$da%02d"
      }
      val vt = timeSrc.map { m =>
        val hr = toIntOr0(groupOrEmpty(m, "hr"))
        val mi = toIntOr0(groupOrEmpty(m, "mi"))
        val se = toIntOr0(groupOrEmpty(m, "se"))
        val base = f"$hr%02d:$mi%02d:$se%02d"
        val ms = groupOrEmpty(m, "ms")
        if (ms.nonEmpty) s"$base.$ms" else base
      }
      var out = (vd.toList ++ vt.toList).mkString("T")
      tzM.foreach { m =>
        out += (if (hasGroup(m, "z") && m.group("z") != null) "Z"
                else {
                  val hr = m.group("hr")
                  val mi = toIntOr0(groupOrEmpty(m, "mi"))
                  f"$hr:$mi%02d"
                })
      }
      Right(out)
    }

    private def toIntOr0(s: String): Int = if (s.isEmpty) 0 else s.toInt
    private def groupOrEmpty(m: Matcher, name: String): String =
      try { Option(m.group(name)).getOrElse("") } catch { case _: IllegalArgumentException => "" }
    private def hasGroup(m: Matcher, name: String): Boolean =
      try { m.group(name); true } catch { case _: IllegalArgumentException => false }
  }

  def compile(pattern: String): Compiled = Compiled(pattern)

  private def dateRegex(p: String): Option[Pattern] = {
    val core: Option[String] = p match {
      case "yyyy-MM-dd" => Some("(?<yr>\\d{4})-(?<mo>\\d{2})-(?<da>\\d{2})")
      case "yyyyMMdd"   => Some("(?<yr>\\d{4})(?<mo>\\d{2})(?<da>\\d{2})")
      case "dd-MM-yyyy" => Some("(?<da>\\d{2})-(?<mo>\\d{2})-(?<yr>\\d{4})")
      case "d-M-yyyy"   => Some("(?<da>\\d{1,2})-(?<mo>\\d{1,2})-(?<yr>\\d{4})")
      case "d-M-yy"     => Some("(?<da>\\d{1,2})-(?<mo>\\d{1,2})-(?<yr>\\d{2})")
      case "d-M-y"      => Some("(?<da>\\d{1,2})-(?<mo>\\d{1,2})-(?<yr>\\d{1,4})")
      case "MM-dd-yyyy" => Some("(?<mo>\\d{2})-(?<da>\\d{2})-(?<yr>\\d{4})")
      case "M-d-yyyy"   => Some("(?<mo>\\d{1,2})-(?<da>\\d{1,2})-(?<yr>\\d{4})")
      case "M-d-yy"     => Some("(?<mo>\\d{1,2})-(?<da>\\d{1,2})-(?<yr>\\d{2})")
      case "M-d-y"      => Some("(?<mo>\\d{1,2})-(?<da>\\d{1,2})-(?<yr>\\d{1,4})")
      case "dd/MM/yyyy" => Some("(?<da>\\d{2})/(?<mo>\\d{2})/(?<yr>\\d{1,4})")
      case "d/M/yyyy"   => Some("(?<da>\\d{1,2})/(?<mo>\\d{1,2})/(?<yr>\\d{4})")
      case "d/M/yy"     => Some("(?<da>\\d{1,2})/(?<mo>\\d{1,2})/(?<yr>\\d{2})")
      case "d/M/y"      => Some("(?<da>\\d{1,2})/(?<mo>\\d{1,2})/(?<yr>\\d{1,4})")
      case "MM/dd/yyyy" => Some("(?<mo>\\d{2})/(?<da>\\d{2})/(?<yr>\\d{1,4})")
      case "M/d/yyyy"   => Some("(?<mo>\\d{1,2})/(?<da>\\d{1,2})/(?<yr>\\d{4})")
      case "M/d/yy"     => Some("(?<mo>\\d{1,2})/(?<da>\\d{1,2})/(?<yr>\\d{2})")
      case "M/d/y"      => Some("(?<mo>\\d{1,2})/(?<da>\\d{1,2})/(?<yr>\\d{1,4})")
      case "dd.MM.yyyy" => Some("(?<da>\\d{2})\\.(?<mo>\\d{2})\\.(?<yr>\\d{4})")
      case "d.M.yyyy"   => Some("(?<da>\\d{1,2})\\.(?<mo>\\d{1,2})\\.(?<yr>\\d{4})")
      case "d.M.yy"     => Some("(?<da>\\d{1,2})\\.(?<mo>\\d{1,2})\\.(?<yr>\\d{2})")
      case "d.M.y"      => Some("(?<da>\\d{1,2})\\.(?<mo>\\d{1,2})\\.(?<yr>\\d{1,4})")
      case "MM.dd.yyyy" => Some("(?<mo>\\d{2})\\.(?<da>\\d{2})\\.(?<yr>\\d{4})")
      case "M.d.yyyy"   => Some("(?<mo>\\d{1,2})\\.(?<da>\\d{1,2})\\.(?<yr>\\d{4})")
      case "M.d.yy"     => Some("(?<mo>\\d{1,2})\\.(?<da>\\d{1,2})\\.(?<yr>\\d{2})")
      case "M.d.y"      => Some("(?<mo>\\d{1,2})\\.(?<da>\\d{1,2})\\.(?<yr>\\d{1,4})")
      case "yyyy-MM-ddTHH:mm" =>
        Some("(?<yr>\\d{4})-(?<mo>\\d{2})-(?<da>\\d{2})T(?<hr>\\d{2}):(?<mi>\\d{2})(?<se>)(?<ms>)")
      case "yyyy-MM-ddTHH:mm:ss" =>
        Some("(?<yr>\\d{4})-(?<mo>\\d{2})-(?<da>\\d{2})T(?<hr>\\d{2}):(?<mi>\\d{2}):(?<se>\\d{2})(?<ms>)")
      case s if s.startsWith("yyyy-MM-ddTHH:mm:ss.") && s.drop("yyyy-MM-ddTHH:mm:ss.".length).forall(_ == 'S') &&
                s.length > "yyyy-MM-ddTHH:mm:ss.".length =>
        Some("(?<yr>\\d{4})-(?<mo>\\d{2})-(?<da>\\d{2})T(?<hr>\\d{2}):(?<mi>\\d{2}):(?<se>\\d{2})\\.(?<ms>\\d+)")
      case _ => None
    }
    core.map(c => Pattern.compile("^" + c))
  }

  private def timeRegex(p: String): Option[Pattern] = {
    val core: Option[String] = p match {
      case "HH:mm:ss" => Some("(?<hr>\\d{2}):(?<mi>\\d{2}):(?<se>\\d{2})(?<ms>)")
      case "HHmmss"   => Some("(?<hr>\\d{2})(?<mi>\\d{2})(?<se>\\d{2})(?<ms>)")
      case "HH:mm"    => Some("(?<hr>\\d{2}):(?<mi>\\d{2})(?<se>)(?<ms>)")
      case "HHmm"     => Some("(?<hr>\\d{2})(?<mi>\\d{2})(?<se>)(?<ms>)")
      case s if s.startsWith("HH:mm:ss.") && s.drop("HH:mm:ss.".length).forall(_ == 'S') &&
                s.length > "HH:mm:ss.".length =>
        Some("(?<hr>\\d{2}):(?<mi>\\d{2}):(?<se>\\d{2})\\.(?<ms>\\d+)")
      case _ => None
    }
    core.map(c => Pattern.compile("^" + c))
  }

  private def tzRegex(p: String): Option[Pattern] = p match {
    case "x"   => Some(Pattern.compile("^(?:(?<hr>[+-]\\d{2})(?<mi>\\d{2})?)(?<z>)$"))
    case "X"   => Some(Pattern.compile("^(?:(?:(?<hr>[+-]\\d{2})(?<mi>\\d{2})?)|(?<z>Z))$"))
    case "xx"  => Some(Pattern.compile("^(?:(?<hr>[+-]\\d{2})(?<mi>\\d{2}))(?<z>)$"))
    case "XX"  => Some(Pattern.compile("^(?:(?:(?<hr>[+-]\\d{2})(?<mi>\\d{2}))|(?<z>Z))$"))
    case "xxx" => Some(Pattern.compile("^(?:(?<hr>[+-]\\d{2}):(?<mi>\\d{2}))(?<z>)$"))
    case "XXX" => Some(Pattern.compile("^(?:(?:(?<hr>[+-]\\d{2}):(?<mi>\\d{2}))|(?<z>Z))$"))
    case _     => None
  }
}
