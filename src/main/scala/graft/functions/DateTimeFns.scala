package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import FnBuilders._

/** Date and time functions: calendar parts, truncation and buckets,
  * epoch conversions, date arithmetic and Interval makers, week
  * numbering, parsing and formatting (reference: DataTypeDateTime.h
  * and the public ClickHouse docs of each name). */
private[graft] object DateTimeFns {

  private def tsAdd(unit: String, negate: Boolean): Builder = { es =>
    val n = Cast(es(1), LongType)
    TimestampAdd(unit, if (negate) UnaryMinus(n) else n,
      Cast(es(0), TimestampType))
  }

  /** Floor a timestamp to an n-second bucket through epoch-seconds
    * division (the reference's own bucketing). */
  private def secondsBucket(seconds: Int): Builder = { es =>
    builtin("timestamp_seconds")(Seq(Multiply(
      builtin("div")(Seq(Cast(builtin("unix_timestamp")(es), LongType),
        Literal(seconds.toLong))),
      Literal(seconds.toLong))))
  }

  /** Floor a timestamp to an n-second bucket through the µs pmod
    * floor (exact for pre-epoch times too). */
  private def microsBucket(seconds: Int): Builder = { es =>
    val m = builtin("unix_micros")(Seq(Cast(es.head, TimestampType)))
    builtin("timestamp_micros")(Seq(
      Subtract(m, Pmod(m, Literal(seconds * 1000000L)))))
  }

  private def dtInterval(days: Expression, hours: Expression,
      mins: Expression, secs: Expression): Expression =
    builtin("make_dt_interval")(Seq(days, hours, mins, secs))
  private def ymInterval(years: Expression, months: Expression): Expression =
    builtin("make_ym_interval")(Seq(years, months))
  private val zero = Literal(0)

  /** CH's MySQL-syntax format tokens → Java time pattern (the common
    * set; unknown tokens refuse loudly rather than mis-parse). */
  private def mysqlToJava(fmt: String, fn: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        out.append(fmt.charAt(i + 1) match {
          case 'Y' => "yyyy"
          case 'y' => "yy"
          case 'm' => "MM"
          case 'c' => "M"
          case 'd' => "dd"
          case 'e' => "d"
          case 'H' => "HH"
          case 'k' => "H"
          case 'h' | 'I' => "hh"
          case 'l' => "h"
          case 'i' => "mm"
          case 's' | 'S' => "ss"
          case 'p' => "a"
          case 'M' => "MMMM"
          case 'b' => "MMM"
          case 'j' => "DDD"
          case 'a' => "EEE"
          case 'W' => "EEEE"
          case 'F' => "yyyy-MM-dd"
          case 'T' => "HH:mm:ss"
          case '%' => "%"
          case u => throw new UnsupportedOperationException(
            s"$fn: unsupported MySQL format token '%$u'")
        })
        i += 2
      } else {
        // literal run — quote anything that could be a pattern letter
        if (c.isLetter) out.append('\'').append(c).append('\'')
        else out.append(c)
        i += 1
      }
    }
    out.toString
  }

  private def litUnit(e: Expression, fn: String): String =
    strLit(e, fn, "string unit ('day', 'hour', …)").toUpperCase

  /** Best-effort datetime parsing: ISO forms via cast, then the common
    * European and compact spellings. */
  private def bestEffort(s: Expression): Expression =
    Coalesce(Seq(
      builtin("try_to_timestamp")(Seq(s)),
      builtin("try_to_timestamp")(Seq(s, Literal("dd/MM/yyyy HH:mm:ss"))),
      builtin("try_to_timestamp")(Seq(s, Literal("dd/MM/yyyy"))),
      builtin("try_to_timestamp")(Seq(s, Literal("yyyyMMddHHmmss"))),
      builtin("try_to_timestamp")(Seq(s, Literal("yyyyMMdd")))))

  private def microsInterval(e: Expression): Expression =
    dtInterval(zero, zero, zero, Divide(Cast(e, DoubleType), Literal(1000000.0)))

  private def weekMode(es: Seq[Expression], fn: String): Int = {
    val m = if (es.size >= 2) intLit(es(1), fn, "mode") else 0
    require(m >= 0 && m <= 9, s"$fn mode $m not supported (0-9 are)")
    m
  }

  // week-1 rules (the second axis of the MySQL/CH mode table)
  private val RuleFirstWeekday = 0 // week 1 starts at the year's first <first-day>
  private val RuleGe4Days = 1      // week 1 = the week containing Jan 4 (≥4 days of the year)
  private val RuleHasJan1 = 2      // week 1 = the week containing Jan 1

  /** mode → (Monday-first?, week-1 rule, 0–53 range?) — the public
    * CH/MySQL WEEK() mode table, decomposed. */
  private val weekModeTable: Map[Int, (Boolean, Int, Boolean)] = Map(
    0 -> ((false, RuleFirstWeekday, true)),
    1 -> ((true, RuleGe4Days, true)),
    2 -> ((false, RuleFirstWeekday, false)),
    3 -> ((true, RuleGe4Days, false)),
    4 -> ((false, RuleGe4Days, true)),
    5 -> ((true, RuleFirstWeekday, true)),
    6 -> ((false, RuleGe4Days, false)),
    7 -> ((true, RuleFirstWeekday, false)),
    8 -> ((false, RuleHasJan1, false)),
    9 -> ((true, RuleHasJan1, false)))

  /** Start of d's week under the mode's first day. */
  private def weekStartOf(d: Expression, mondayFirst: Boolean): Expression =
    if (mondayFirst) mondayOf(d)
    else builtin("date_sub")(Seq(d,
      Subtract(builtin("dayofweek")(Seq(d)), Literal(1)))) // Sunday of

  /** Start of week 1 in the calendar year of `ref`. */
  private def week1StartInYearOf(ref: Expression, mondayFirst: Boolean,
      rule: Int): Expression = {
    val jan1 = builtin("trunc")(Seq(ref, Literal("YEAR")))
    rule match {
      case RuleFirstWeekday =>
        // first Sunday/Monday on-or-after Jan 1 (dayofweek: Sun=1)
        val target = if (mondayFirst) 2 else 1
        builtin("date_add")(Seq(jan1, Pmod(
          Subtract(Literal(target + 7), builtin("dayofweek")(Seq(jan1))),
          Literal(7))))
      case RuleGe4Days =>
        weekStartOf(builtin("date_add")(Seq(jan1, Literal(3))), mondayFirst)
      case RuleHasJan1 => weekStartOf(jan1, mondayFirst)
    }
  }

  /** The day whose calendar year OWNS d's week: the week's start for
    * the first-<day> rule, its 4th day for the ≥4-days rule, its last
    * day for the contains-Jan-1 rule (a week containing Jan 1 belongs
    * to the NEW year). Numbering from this anchor's week-1 start is
    * always ≥ 1 — MySQL YEARWEEK's contract. */
  private def weekOwnerAnchor(d: Expression, mondayFirst: Boolean,
      rule: Int): Expression = {
    val ws = weekStartOf(d, mondayFirst)
    rule match {
      case RuleFirstWeekday => ws
      case RuleGe4Days => builtin("date_add")(Seq(ws, Literal(3)))
      case RuleHasJan1 => builtin("date_add")(Seq(ws, Literal(6)))
    }
  }

  /** Week index counted from `start` (week 1 = [start, start+7)). */
  private def weekFrom(start: Expression, d: Expression): Expression =
    Cast(Add(IntegralDivide(
      Cast(builtin("datediff")(Seq(d, start)), LongType), Literal(7L)),
      Literal(1L)), IntegerType)

  /** Monday of d's Monday-first week. */
  private def mondayOf(d: Expression): Expression =
    builtin("date_sub")(Seq(d,
      Pmod(Add(builtin("dayofweek")(Seq(d)), Literal(5)), Literal(7))))

  /** CH formatDateTime '%'-specifiers → a java date_format pattern;
    * literal letters are quoted so they never re-parse as patterns. */
  private def chFormatLiteral(e: Expression): Expression = e match {
    case Literal(s, StringType) if s != null => Literal(chFormat(s.toString))
    case other => throw new IllegalArgumentException(
      s"formatDateTime needs a literal format string, got $other")
  }

  private val chSpecifiers = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd", 'e' -> "d",
    'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss", 'p' -> "a",
    'j' -> "DDD", 'a' -> "EEE", 'b' -> "MMM", 'F' -> "yyyy-MM-dd",
    'T' -> "HH:mm:ss", 'Q' -> "QQ", '%' -> "%")

  private def chFormat(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 1 < s.length) {
        out.append(chSpecifiers.getOrElse(s.charAt(i + 1),
          throw new IllegalArgumentException(
            s"unsupported formatDateTime specifier %${s.charAt(i + 1)}")))
        i += 2
      } else {
        if (c.isLetter) out.append('\'').append(c).append('\'') else out.append(c)
        i += 1
      }
    }
    out.toString
  }

  def aliases: Seq[(String, Builder)] = Seq(
    // calendar parts
    "toYear"         -> builtin("year"),
    "toMonth"        -> builtin("month"),
    "toDayOfMonth"   -> builtin("dayofmonth"),
    "toDayOfWeek"    -> { es => Add(builtin("weekday")(es), Literal(1)) }, // ISO 1=Monday
    "toHour"         -> builtin("hour"),
    "toMinute"       -> builtin("minute"),
    "toSecond"       -> builtin("second"),
    "toMillisecond" -> { es =>
      Cast(Pmod(builtin("unix_millis")(Seq(Cast(es.head, TimestampType))),
        Literal(1000L)), IntegerType) },
    "toQuarter"      -> builtin("quarter"),
    "toDayOfYear"    -> builtin("dayofyear"),
    "toISOWeek"      -> builtin("weekofyear"), // Spark weekofyear IS ISO 8601
    // toWeek(d[, mode]) / toYearWeek(d[, mode]) — CH inherits MySQL's
    // WEEK() mode table and adds modes 8/9 (all 10 public modes; CH
    // docs). Each mode decomposes into three independent axes — see
    // weekModeTable: week first day (Sunday/Monday), the week-1 rule
    // (year's first <first-day> / the week with ≥4 days of the year,
    // i.e. the week containing Jan 4 / the week containing Jan 1),
    // and the range (0–53: days before week 1 are week 0; 1–53: those
    // days take the previous year's last week number instead).
    "toWeek" -> { es =>
      val d = Cast(es.head, DateType)
      val m = weekMode(es, "toWeek")
      if (m == 3) builtin("weekofyear")(Seq(d)) // ISO 8601 = Spark's
      else {
        val (mon, rule, zeroRange) = weekModeTable(m)
        if (zeroRange) {
          // numbered within d's own calendar year (a late-Dec week
          // reaching into next year counts as 53, MySQL's contract)
          val w1 = week1StartInYearOf(d, mon, rule)
          If(LessThan(d, w1), Literal(0), weekFrom(w1, d))
        } else {
          // numbered within the week's OWNING year (the anchor day's)
          val anchor = weekOwnerAnchor(d, mon, rule)
          weekFrom(week1StartInYearOf(anchor, mon, rule), d)
        }
      } },
    // toYearWeek is MySQL YEARWEEK: always owner-year numbering
    // (the 0-53/1-53 range axis is moot — week 0 never appears)
    "toYearWeek" -> { es =>
      val d = Cast(es.head, DateType)
      val m = weekMode(es, "toYearWeek")
      val (mon, rule, _) = weekModeTable(m)
      val anchor = weekOwnerAnchor(d, mon, rule)
      val wk = if (m == 3) builtin("weekofyear")(Seq(d))
        else weekFrom(week1StartInYearOf(anchor, mon, rule), d)
      Add(Multiply(builtin("year")(Seq(anchor)), Literal(100)), wk) },
    // dateName(part, datetime) → the named component as a string
    "dateName" -> { es =>
      val d = es(1)
      val lower = Lower(es(0))
      def s(b: Expression) = Cast(b, StringType)
      CaseWhen(Seq(
        (EqualTo(lower, Literal("year")), s(builtin("year")(Seq(d)))),
        (EqualTo(lower, Literal("quarter")), s(builtin("quarter")(Seq(d)))),
        (EqualTo(lower, Literal("month")),
          builtin("date_format")(Seq(d, Literal("MMMM")))),
        (EqualTo(lower, Literal("week")), s(builtin("weekofyear")(Seq(d)))),
        (EqualTo(lower, Literal("dayofyear")),
          s(builtin("dayofyear")(Seq(d)))),
        (EqualTo(lower, Literal("day")), s(builtin("dayofmonth")(Seq(d)))),
        (EqualTo(lower, Literal("weekday")),
          builtin("date_format")(Seq(d, Literal("EEEE")))),
        (EqualTo(lower, Literal("hour")), s(builtin("hour")(Seq(d)))),
        (EqualTo(lower, Literal("minute")), s(builtin("minute")(Seq(d)))),
        (EqualTo(lower, Literal("second")), s(builtin("second")(Seq(d))))),
        None) },
    // chMonthName: ChSql renames CH monthName() here — Spark 4 owns
    // a monthname() builtin with ABBREVIATED output, CH's is the
    // full name; spelled as a literal lookup for locale independence
    "chMonthName" -> { es =>
      builtin("element_at")(Seq(
        CreateArray(Seq("January", "February", "March", "April", "May",
          "June", "July", "August", "September", "October", "November",
          "December").map(Literal(_))),
        builtin("month")(Seq(Cast(es.head, DateType))))) },
    "toYYYYMM"         -> { es =>
      Cast(builtin("date_format")(es :+ Literal("yyyyMM")), IntegerType) },
    "toYYYYMMDD"       -> { es =>
      Cast(builtin("date_format")(es :+ Literal("yyyyMMdd")), IntegerType) },
    "toYYYYMMDDhhmmss" -> { es =>
      Cast(builtin("date_format")(es :+ Literal("yyyyMMddHHmmss")), LongType) },
    "toRelativeYearNum"  -> builtin("year"),
    "toRelativeMonthNum" -> { es =>
      Add(Multiply(builtin("year")(es), Literal(12)), builtin("month")(es)) },
    "toRelativeDayNum" -> { es =>
      builtin("datediff")(Seq(Cast(es.head, DateType),
        Cast(Literal("1970-01-01"), DateType))) },
    "toRelativeHourNum" -> { es =>
      Cast(builtin("floor")(Seq(Divide(
        Cast(builtin("unix_micros")(Seq(Cast(es.head, TimestampType))),
          DoubleType), Literal(3600000000.0)))), LongType) },
    "toRelativeMinuteNum" -> { es =>
      Cast(builtin("floor")(Seq(Divide(
        Cast(builtin("unix_micros")(Seq(Cast(es.head, TimestampType))),
          DoubleType), Literal(60000000.0)))), LongType) },
    "toRelativeSecondNum" -> { es =>
      builtin("unix_timestamp")(Seq(Cast(es.head, TimestampType))) },
    // proleptic-Gregorian days since 0000-01-01 (epoch day + 719528,
    // CH's documented anchor — Spark dates can't reach year 0, so the
    // constant bridges from the epoch)
    "toDaysSinceYearZero" -> { es =>
      Add(builtin("datediff")(Seq(Cast(es.head, DateType),
        Cast(Literal("1970-01-01"), DateType))), Literal(719528)) },
    "toModifiedJulianDay" -> { es =>
      builtin("datediff")(Seq(Cast(es.head, DateType),
        Cast(Literal("1858-11-17"), DateType))) },
    "fromModifiedJulianDay" -> { es =>
      builtin("date_add")(Seq(Cast(Literal("1858-11-17"), DateType),
        Cast(es.head, IntegerType))) },

    // truncation and buckets
    "toStartOfYear"    -> { es => builtin("date_trunc")(Literal("YEAR") +: es) },
    "toStartOfQuarter" -> { es => builtin("date_trunc")(Literal("QUARTER") +: es) },
    "toStartOfMonth" -> { es => builtin("date_trunc")(Literal("MONTH") +: es) },
    "toStartOfWeek"    -> { es => builtin("date_trunc")(Literal("WEEK") +: es) },
    "toMonday"         -> { es =>
      Cast(builtin("date_trunc")(Literal("WEEK") +: es), DateType) },
    "toStartOfDay"   -> { es => builtin("date_trunc")(Literal("DAY") +: es) },
    "toStartOfHour"  -> { es => builtin("date_trunc")(Literal("HOUR") +: es) },
    "toStartOfMinute" -> { es => builtin("date_trunc")(Literal("MINUTE") +: es) },
    "toStartOfSecond" -> { es =>
      builtin("date_trunc")(Seq(Literal("SECOND"), es.head)) },
    // micros is the native timestamp resolution — truncation is identity
    "toStartOfMicrosecond" -> { es => Cast(es.head, TimestampType) },
    "toLastDayOfMonth" -> builtin("last_day"),
    // CH dateTrunc(unit, value) — Spark's date_trunc has the same
    // argument order and unit vocabulary
    "dateTrunc" -> builtin("date_trunc"),
    // toStartOfInterval(t, INTERVAL n unit): floor t to a multiple of
    // the interval. Time units align from the epoch (CH's contract;
    // note `INTERVAL 1 WEEK` parses as 7 days, so weeks align from
    // the epoch's Thursday — use toMonday for ISO weeks); month
    // multiples align on the calendar month index.
    "toStartOfInterval" -> { es =>
      def timePath(micros: Long): Expression = {
        val m = builtin("unix_micros")(Seq(Cast(es.head, TimestampType)))
        builtin("timestamp_micros")(Seq(Subtract(m, Pmod(m, Literal(micros)))))
      }
      def monthPath(months: Int): Expression = {
        val mi = Add(
          Multiply(builtin("year")(Seq(es.head)), Literal(12)),
          Subtract(builtin("month")(Seq(es.head)), Literal(1)))
        val aligned = Subtract(mi, Pmod(mi, Literal(months)))
        builtin("make_date")(Seq(
          Cast(IntegralDivide(aligned, Literal(12)), IntegerType),
          Cast(Add(Pmod(aligned, Literal(12)), Literal(1)), IntegerType),
          Literal(1)))
      }
      es(1) match {
        case Literal(v: Long, _: DayTimeIntervalType) => timePath(v)
        case Literal(v: Int, _: YearMonthIntervalType) => monthPath(v)
        case Literal(c: org.apache.spark.unsafe.types.CalendarInterval,
            CalendarIntervalType) if c.months == 0 =>
          timePath(c.days * 86400000000L + c.microseconds)
        case Literal(c: org.apache.spark.unsafe.types.CalendarInterval,
            CalendarIntervalType) if c.days == 0 && c.microseconds == 0 =>
          monthPath(c.months)
        case other => throw new IllegalArgumentException(
          "toStartOfInterval needs a literal single-unit INTERVAL, got " +
            other.sql)
      }
    },
    "toStartOfFiveMinutes" -> microsBucket(300),
    "toStartOfTenMinutes"  -> microsBucket(600),
    // N-minute buckets: epoch-seconds floor (CH buckets the same way)
    "toStartOfFifteenMinutes" -> secondsBucket(900),
    "timeSlot"                -> secondsBucket(1800),
    // timeSlots(t, duration[, size=1800]): every size-second slot
    // start the closed range [t, t+duration] touches
    "timeSlots" -> { es =>
      val size = if (es.size > 2) Cast(es(2), LongType) else Literal(1800L)
      val sizeM = Multiply(size, Literal(1000000L))
      val m = builtin("unix_micros")(Seq(Cast(es(0), TimestampType)))
      val lo = Subtract(m, Pmod(m, sizeM))
      val hiM = Add(m, Multiply(Cast(es(1), LongType), Literal(1000000L)))
      val hi = Subtract(hiM, Pmod(hiM, sizeM))
      builtin("transform")(Seq(
        builtin("sequence")(Seq(lo, hi, sizeM)),
        lam1("__g2_x")(x => builtin("timestamp_micros")(Seq(x))))) },
    // same wall-clock time moved to the reference's fixed date
    // 1970-01-02 (DataTypeDateTime.h family helper)
    "toTime" -> { es =>
      val m = builtin("unix_micros")(Seq(Cast(es.head, TimestampType)))
      builtin("timestamp_micros")(Seq(Add(
        Pmod(m, Literal(86400000000L)), Literal(86400000000L)))) },

    // epoch conversions
    "toUnixTimestamp"   -> builtin("unix_timestamp"),
    // DateTime64 epoch extractors (public CH names; Spark's
    // unix_micros/millis take a timestamp directly)
    "toUnixTimestamp64Micro" -> builtin("unix_micros"),
    "toUnixTimestamp64Milli" -> builtin("unix_millis"),
    "toUnixTimestamp64Nano"  -> { es =>
      Multiply(builtin("unix_micros")(es), Literal(1000L)) },
    "fromUnixTimestamp" -> builtin("from_unixtime"),
    "fromUnixTimestamp64Milli" -> { es =>
      builtin("timestamp_millis")(Seq(Cast(es.head, LongType))) },
    "fromUnixTimestamp64Micro" -> { es =>
      builtin("timestamp_micros")(Seq(Cast(es.head, LongType))) },
    "fromUnixTimestamp64Nano" -> { es =>
      builtin("timestamp_micros")(Seq(
        IntegralDivide(Cast(es.head, LongType), Literal(1000L)))) },
    // Joda tokens ARE java.time tokens for the shared set —
    // from_unixtime / to_timestamp speak them natively
    "fromUnixTimestampInJodaSyntax" -> builtin("from_unixtime"),

    // arithmetic
    "addDays"        -> builtin("date_add"),
    "subtractDays"   -> builtin("date_sub"),
    // date-unit adds keep DATE; time-unit adds go through timestampadd
    "addWeeks" -> { es =>
      builtin("date_add")(Seq(es(0),
        Multiply(Cast(es(1), IntegerType), Literal(7)))) },
    "subtractWeeks" -> { es =>
      builtin("date_add")(Seq(es(0),
        Multiply(Cast(es(1), IntegerType), Literal(-7)))) },
    "addMonths"      -> builtin("add_months"),
    "subtractMonths" -> { es =>
      builtin("add_months")(Seq(es(0),
        UnaryMinus(Cast(es(1), IntegerType)))) },
    "addQuarters" -> { es => builtin("add_months")(Seq(es(0),
      Multiply(Cast(es(1), IntegerType), Literal(3)))) },
    "subtractQuarters" -> { es => builtin("add_months")(Seq(es(0),
      Multiply(Cast(es(1), IntegerType), Literal(-3)))) },
    "addYears"       -> { es =>
      builtin("add_months")(Seq(es(0), Multiply(es(1), Literal(12)))) },
    "subtractYears" -> { es =>
      builtin("add_months")(Seq(es(0),
        Multiply(Cast(es(1), IntegerType), Literal(-12)))) },
    "addHours"        -> tsAdd("HOUR", negate = false),
    "subtractHours"   -> tsAdd("HOUR", negate = true),
    "addMinutes"      -> tsAdd("MINUTE", negate = false),
    "subtractMinutes" -> tsAdd("MINUTE", negate = true),
    "addSeconds"      -> tsAdd("SECOND", negate = false),
    "subtractSeconds" -> tsAdd("SECOND", negate = true),
    // string-unit forms (the bare-keyword CH spelling is a parser
    // construct Spark can't see; the quoted-unit form is also valid CH)
    "dateSub" -> { es =>
      TimestampAdd(litUnit(es(0), "dateSub"),
        UnaryMinus(Cast(es(1), LongType)), Cast(es(2), TimestampType)) },
    // age('unit', start, end): COMPLETE elapsed units (vs dateDiff's
    // boundary crossings) — exactly timestampdiff's contract
    "age" -> { es =>
      TimestampDiff(litUnit(es(0), "age"),
        Cast(es(1), TimestampType), Cast(es(2), TimestampType)) },
    // timeDiff(start, end) = whole seconds end − start
    "timeDiff" -> { es =>
      Subtract(builtin("unix_seconds")(Seq(Cast(es(1), TimestampType))),
        builtin("unix_seconds")(Seq(Cast(es(0), TimestampType)))) },

    // interval makers
    "toIntervalSecond" -> { es => dtInterval(zero, zero, zero, es.head) },
    "toIntervalMinute" -> { es => dtInterval(zero, zero, es.head, zero) },
    "toIntervalHour" -> { es => dtInterval(zero, es.head, zero, zero) },
    "toIntervalDay" -> { es => dtInterval(es.head, zero, zero, zero) },
    "toIntervalWeek" -> { es =>
      dtInterval(Multiply(es.head, Literal(7)), zero, zero, zero) },
    "toIntervalMonth" -> { es => ymInterval(zero, es.head) },
    "toIntervalQuarter" -> { es =>
      ymInterval(zero, Multiply(es.head, Literal(3))) },
    "toIntervalYear" -> { es => ymInterval(es.head, zero) },
    "toIntervalMillisecond" -> { es => dtInterval(zero, zero, zero,
      Divide(Cast(es.head, DoubleType), Literal(1000.0))) },
    "toIntervalMicrosecond" -> { es => microsInterval(es.head) },
    // nanosecond interval: micros is the native resolution — the
    // nanos floor to whole microseconds (documented narrowing, the
    // DateTime64(9) story repo-wide)
    "toIntervalNanosecond" -> { es =>
      microsInterval(Cast(Divide(Cast(es.head, DoubleType), Literal(1000.0)),
        LongType)) },

    // current time and zones
    "today"     -> { _ => builtin("current_date")(Nil) },
    "yesterday" -> { _ => builtin("date_sub")(
      Seq(builtin("current_date")(Nil), Literal(1))) },
    "now64" -> { _ => builtin("current_timestamp")(Seq.empty) },
    "nowInBlock" -> { _ => builtin("current_timestamp")(Seq.empty) },
    "timezone" -> { _ => builtin("current_timezone")(Seq.empty) },
    "serverTimeZone" -> { _ => builtin("current_timezone")(Seq.empty) },
    // our TimestampType carries the session zone — timezoneOf is the
    // session timezone for every value, exactly current_timezone
    "timezoneOf" -> { _ => builtin("current_timezone")(Seq.empty) },
    // CH's toTimeZone re-annotates the SAME instant with a display
    // zone; Spark timestamps are instants without a per-value zone,
    // so the instant-preserving realization is identity
    "toTimeZone" -> { es => es.head },

    // constructors, parsing and formatting
    "makeDate" -> { es => builtin("make_date")(es) },
    "makeDate32" -> { es => builtin("make_date")(es) },
    "makeDateTime" -> { es => builtin("make_timestamp")(es.take(6)) },
    "makeDateTime64" -> { es => builtin("make_timestamp")(es.take(6)) },
    "parseDateTime" -> { es =>
      require(es.size == 2, "parseDateTime(str, format) — the " +
        "timezone argument is not supported (session timezone applies)")
      val fmt = mysqlToJava(strLit(es(1), "parseDateTime", "format"),
        "parseDateTime")
      builtin("to_timestamp")(Seq(es.head, Literal(fmt))) },
    "parseDateTimeInJodaSyntax" -> { es =>
      Cast(builtin("to_timestamp")(es.take(2)), TimestampType) },
    "parseDateTimeInJodaSyntaxOrNull" -> { es =>
      Cast(builtin("try_to_timestamp")(es.take(2)), TimestampType) },
    "parseDateTimeBestEffort" -> { es => bestEffort(es.head) },
    // best-effort family: micros is the native resolution, so the
    // 64-bit spellings share the existing coalesce chain. Documented
    // divergence (as for parseReadableSize): unparseable input is
    // NULL in all four spellings where the reference's non-OrNull
    // forms throw — a library column op can't abort the query.
    "parseDateTimeBestEffortOrNull" -> { es => bestEffort(es.head) },
    "parseDateTime64BestEffort" -> { es => bestEffort(es.head) },
    "parseDateTime64BestEffortOrNull" -> { es => bestEffort(es.head) },
    // CH %-format → java pattern, translated at plan time (the format
    // must be a literal — it always is in real queries)
    "formatDateTime" -> { es =>
      builtin("date_format")(Seq(es(0), chFormatLiteral(es(1)))) },
    // Joda tokens are java.time tokens for the common set — direct
    // date_format passthrough (the MySQL-token formatDateTime already
    // exists separately)
    "formatDateTimeInJodaSyntax" -> { es =>
      builtin("date_format")(Seq(Cast(es(0), TimestampType), es(1))) }
  )
}
