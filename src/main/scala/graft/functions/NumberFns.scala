package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.types._
import FnBuilders._

/** Numbers: type conversions (DataTypeFactory.cpp names), arithmetic
  * and the operator names, conditionals, rounding, bit functions,
  * closed-form math, vector distances and random draws. */
private[graft] object NumberFns {

  private def scaleOf(e: Expression, fn: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$fn scale must be a literal integer, got $other")
  }

  private def decimalCast(precision: Int): Builder = { es =>
    Cast(es(0), DecimalType(precision, scaleOf(es(1), "toDecimal")))
  }

  /** CH type name literal → Spark DataType (via ChDdl's type map). */
  private def chTypeOf(e: Expression, fn: String): DataType = {
    val chName = strLit(e, fn, "type name")
    val (sparkSql, _) = ChDdl.parseType(ChSql.retok(chName))
    CatalystSqlParser.parseDataType(sparkSql)
  }

  // to*OrNull / to*OrZero (DataTypeFactory conversion names).
  // The dirty-string-parsing idiom of every real ingestion query:
  // OrNull = TRY cast (unparseable → NULL, same as CH), OrZero =
  // coalesce to the type's default (0 / epoch).
  // One table: (name, OUTPUT type, unsigned max). The output type IS
  // what the function returns — unsigned targets carry one signed
  // step wider than their range (UInt32 → BIGINT, UInt8 → SMALLINT,
  // UInt64 → DECIMAL(20,0), the one carrier holding the full
  // [0, 2^64−1] range) so in-range values above the signed max
  // survive.
  private val u64Max = BigDecimal("18446744073709551615")
  private val convTypes: Seq[(String, DataType, Option[BigDecimal])] = Seq(
    ("UInt64", DecimalType(20, 0), Some(u64Max)),
    ("Int64", LongType, None),
    ("UInt32", LongType, Some(BigDecimal(4294967295L))),
    ("Int32", IntegerType, None),
    ("UInt16", IntegerType, Some(BigDecimal(65535L))),
    ("Int16", ShortType, None),
    ("UInt8", ShortType, Some(BigDecimal(255L))),
    ("Int8", ByteType, None),
    ("Float64", DoubleType, None), ("Float32", FloatType, None),
    ("Date", DateType, None), ("DateTime", TimestampType, None))

  private def zeroOf(dt: DataType): Expression = dt match {
    case ByteType => Literal(0.toByte)
    case ShortType => Literal(0.toShort)
    case IntegerType => Literal(0)
    case LongType => Literal(0L)
    case FloatType => Literal(0.0f)
    case DoubleType => Literal(0.0)
    case DateType => Literal(0, DateType) // 1970-01-01, CH's Date zero
    case TimestampType => Literal(0L, TimestampType) // epoch
    case dt: DecimalType =>
      Literal(Decimal(BigDecimal(0), dt.precision, dt.scale), dt)
    case other => throw new IllegalStateException(s"no zero for $other")
  }

  /** Unsigned Or* targets TRY-parse into the (wider) output type and
    * range-check [0, max] — so toUInt32OrNull('3000000000') =
    * 3000000000L, toUInt64OrNull('18446744073709551615') = that value
    * as DECIMAL(20,0), and toUInt64OrNull('-1') = NULL, matching the
    * reference's string parse. Documented divergence: NUMERIC inputs
    * — the reference wraps modulo 2^width (toUInt8OrZero(300) = 44
    * there), we range-reject them like strings (→ NULL/0). The Or*
    * family exists for dirty STRING columns; feeding already-numeric
    * values is off-idiom, and a silent mod-wrap would hide real
    * overflow at 100 TB scale. The range compare runs in
    * DECIMAL(20,0) space so the UInt64 max is representable. */
  private def unsignedParse(dt: DataType, max: BigDecimal,
      e: Expression): Expression = {
    val cmp = DecimalType(20, 0)
    val c = Cast(e, dt, None, EvalMode.TRY)
    If(And(GreaterThanOrEqual(c, Cast(Literal(0), dt)),
      LessThanOrEqual(Cast(c, cmp), Literal(Decimal(max, 20, 0), cmp))),
      c, Cast(Literal(null), dt))
  }

  private def convAliases: Seq[(String, Builder)] =
    convTypes.flatMap { case (n, dt, unsignedMax) =>
      val parse: Expression => Expression = unsignedMax match {
        case Some(max) => unsignedParse(dt, max, _)
        case None => e => Cast(e, dt, None, EvalMode.TRY)
      }
      val zero = zeroOf(dt)
      Seq[(String, Builder)](
        s"to${n}OrNull" -> { es => parse(es.head) },
        s"to${n}OrZero" -> { es => Coalesce(Seq(parse(es.head), zero)) })
    }

  /** toDecimalNN OrNull/OrZero: CH's (value, scale-literal) shape —
    * TRY cast to DECIMAL(precision, scale); OrZero coalesces to the
    * zero of the SAME decimal type (scale preserved in rendering). */
  private def decimalConvAliases: Seq[(String, Builder)] = {
    Seq(9 -> "32", 18 -> "64", 38 -> "128").flatMap { case (p, n) =>
      Seq[(String, Builder)](
        s"toDecimal${n}OrNull" -> { es =>
          Cast(es.head, DecimalType(p, scaleOf(es(1), s"toDecimal${n}OrNull")),
            None, EvalMode.TRY) },
        s"toDecimal${n}OrZero" -> { es =>
          val dt = DecimalType(p, scaleOf(es(1), s"toDecimal${n}OrZero"))
          Coalesce(Seq(Cast(es.head, dt, None, EvalMode.TRY),
            Cast(Literal(0), dt))) })
    }
  }

  /** Euclid as a bounded fold: 96 rounds cover any 64-bit pair
    * (Fibonacci worst case ~91 divisions); b = 0 rounds are no-ops. */
  private def gcdExpr(es: Seq[Expression]): Expression = {
    val a = Abs(Cast(es(0), LongType)); val b = Abs(Cast(es(1), LongType))
    val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
    val i = UnresolvedNamedLambdaVariable(Seq("i"))
    val fin = UnresolvedNamedLambdaVariable(Seq("fin"))
    def f(e: Expression, n: String) = fld(e, n)
    builtin("aggregate")(Seq(
      builtin("sequence")(Seq(Literal(1), Literal(96))),
      CreateNamedStruct(Seq(Literal("a"), a, Literal("b"), b)),
      LambdaFunction(
        If(EqualTo(f(acc, "b"), Literal(0L)), acc,
          CreateNamedStruct(Seq(
            Literal("a"), f(acc, "b"),
            Literal("b"), Pmod(f(acc, "a"), f(acc, "b"))))),
        Seq(acc, i)),
      LambdaFunction(f(fin, "a"), Seq(fin))))
  }

  private def bitMask(bits: Seq[Expression]): Expression =
    bits.map(b => ShiftLeft(Literal(1L), Cast(b, IntegerType)))
      .reduce[Expression]((a, b) => BitwiseOr(a, b))

  /** Powers of two composing a mask, ascending (bits 0..62 — masks
    * are flag sets; the sign bit is not a flag in any CH schema). */
  private def bitmaskArr(n: Expression): Expression = {
    val i = UnresolvedNamedLambdaVariable(Seq("i"))
    val x = UnresolvedNamedLambdaVariable(Seq("x"))
    val bit = builtin("shiftleft")(Seq(Literal(1L), i))
    builtin("filter")(Seq(
      builtin("transform")(Seq(
        builtin("sequence")(Seq(Literal(0), Literal(62))),
        LambdaFunction(
          If(EqualTo(BitwiseAnd(Cast(n, LongType), bit), bit),
            bit, Literal(null, LongType)), Seq(i)))),
      LambdaFunction(IsNotNull(x), Seq(x))))
  }

  /** Σ f(a_i, b_i) over zipped double-cast vectors — the sequential
    * left fold whose IEEE order matches operators/Ann.dot. */
  private def vecFold(a0: Expression, b0: Expression,
      f: (Expression, Expression) => Expression): Expression = {
    val a = UnresolvedNamedLambdaVariable(Seq("__vf_a"))
    val b = UnresolvedNamedLambdaVariable(Seq("__vf_b"))
    val acc = UnresolvedNamedLambdaVariable(Seq("__vf_acc"))
    val y = UnresolvedNamedLambdaVariable(Seq("__vf_y"))
    val terms = builtin("zip_with")(Seq(a0, b0,
      LambdaFunction(f(Cast(a, DoubleType), Cast(b, DoubleType)), Seq(a, b))))
    builtin("aggregate")(Seq(terms, Literal(0.0),
      LambdaFunction(Add(acc, y), Seq(acc, y))))
  }

  /** Σ f(a_i) over a double-cast vector. */
  private def arrFold(a0: Expression,
      f: Expression => Expression): Expression = {
    val a = UnresolvedNamedLambdaVariable(Seq("__af_a"))
    val acc = UnresolvedNamedLambdaVariable(Seq("__af_acc"))
    val y = UnresolvedNamedLambdaVariable(Seq("__af_y"))
    val terms = builtin("transform")(Seq(a0,
      LambdaFunction(f(Cast(a, DoubleType)), Seq(a))))
    builtin("aggregate")(Seq(terms, Literal(0.0),
      LambdaFunction(Add(acc, y), Seq(acc, y))))
  }

  /** erfc over the whole line from the x ≥ 0 polynomial:
    * erfc(−x) = 2 − erfc(x). */
  private def signedErfc(e: Expression): Expression = {
    val x = d(e)
    If(GreaterThanOrEqual(x, Literal(0.0)), erfc(abs(x)),
      Subtract(Literal(2.0), erfc(abs(x))))
  }

  /** Lanczos lgamma/tgamma kernels. */
  private def gammaKernel(method: String): Builder = { es =>
    si(DoubleType, method, Seq(DoubleType), ChNumHelpers.getClass)(
      Seq(d(es.head)))
  }

  private def rnd: Expression = builtin("rand")(Seq.empty)

  /** n random bytes via concatenated uuid-seeded md5 blocks; the
    * printable variant rides base64 (whose alphabet is printable). */
  private def randomBytes(asPrintable: Boolean): Builder = { es =>
    es.head match {
      case Literal(n: Int, IntegerType) =>
        val blocks = math.max(1, (n + 11) / 12)
        val hexChain = Concat((1 to blocks).map(_ =>
          builtin("md5")(Seq(Uuid()))))
        if (asPrintable)
          Substring(builtin("base64")(Seq(
            builtin("unhex")(Seq(hexChain)))), Literal(1), Literal(n))
        else
          builtin("unhex")(Seq(Substring(hexChain, Literal(1),
            Literal(2 * n))))
      case _ => throw new IllegalArgumentException(
        "randomString(length-literal)")
    }
  }

  def aliases: Seq[(String, Builder)] = Seq[(String, Builder)](
    // type conversion
    // unsigned targets carry one step wider than their range (the
    // Or*-family table): UInt8 → SMALLINT, UInt16 → INT,
    // UInt32 → BIGINT, and UInt64 → DECIMAL(20,0) — the one carrier
    // that holds the full [0, 2^64−1] range (18446744073709551615
    // needs 20 digits; Long tops out at 2^63−1)
    "toUInt64"   -> { es => Cast(es.head, DecimalType(20, 0)) },
    "toInt64"    -> { es => Cast(es.head, LongType) },
    "toUInt32"   -> { es => Cast(es.head, LongType) },
    "toInt32"    -> { es => Cast(es.head, IntegerType) },
    "toUInt16"   -> { es => Cast(es.head, IntegerType) },
    "toInt16"    -> { es => Cast(es.head, ShortType) },
    "toUInt8"    -> { es => Cast(es.head, ShortType) },
    "toInt8"     -> { es => Cast(es.head, ByteType) },
    "toFloat64"  -> { es => Cast(es.head, DoubleType) },
    "toFloat32"  -> { es => Cast(es.head, FloatType) },
    "toString"   -> { es => Cast(es.head, StringType) },
    "toDate"     -> { es => Cast(es.head, DateType) },
    "toDate32"     -> { es => Cast(es.head, DateType) },
    "toDateTime" -> { es => Cast(es.head, TimestampType) },
    "toDateTime64" -> { es =>
      // sub-second precision is the y07 truncation ladder's concern;
      // the constructor itself is the timestamp cast (Spark carries
      // microseconds natively — DateTime64(≤6) is lossless)
      Cast(es.head, TimestampType) },
    "toBool" -> { es => Cast(es.head, BooleanType) },
    "toDecimal32"  -> decimalCast(9),
    "toDecimal64"  -> decimalCast(18),
    "toDecimal128" -> decimalCast(38),
    // fixed-scale decimal rendering (no thousands separators)
    "toDecimalString" -> { es =>
      es(1) match {
        case Literal(s: Int, IntegerType) =>
          Cast(Cast(es(0), DecimalType(38, math.min(s, 37))), StringType)
        case _ => throw new IllegalArgumentException(
          "toDecimalString(value, scale-literal)")
      } },
    // accurateCast(x, 'T'): CH throws when the value doesn't fit the
    // target exactly (vs CAST's wrap/saturate); realized as a TRY
    // cast that raises when it nulls a non-null input, PLUS a
    // round-trip check for numeric sources — a lossy-but-castable
    // narrowing (3.5 → Int32, 16777217 → Float32) nulls nothing but
    // CH still throws on it. Both sides compare under decimal(38,10)
    // (exact for every in-range integral and all float/double
    // values down to 10 dp — beyond that a double's excess digits
    // are below any integral/decimal target's resolution anyway).
    // OrNull form = the TRY cast itself.
    "accurateCast" -> { es =>
      val dt = chTypeOf(es(1), "accurateCast")
      val tryC = Cast(es.head, dt, None, EvalMode.TRY)
      val lossless = es.head.dataType match {
        case _: NumericType if dt.isInstanceOf[NumericType] =>
          def dec(e: Expression) =
            Cast(e, DecimalType(38, 10), None, EvalMode.TRY)
          EqualNullSafe(dec(tryC), dec(es.head))
        case _ => Literal(true)
      }
      If(And(IsNotNull(es.head), Or(IsNull(tryC), Not(lossless))),
        Cast(builtin("raise_error")(Seq(
          Literal("accurateCast: value does not fit the target type exactly"))), dt),
        tryC) },
    "accurateCastOrNull" -> { es =>
      Cast(es.head, chTypeOf(es(1), "accurateCastOrNull"), None,
        EvalMode.TRY) },
    // CH UUID type maps to canonical-form strings here (y04/toUUID
    // discipline): OrNull validates the canonical shape, OrZero
    // substitutes the nil UUID (CH's UUID zero)
    "toUUIDOrNull" -> { es =>
      val lowered = Lower(Cast(es.head, StringType))
      If(RLike(lowered, Literal(
        "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")),
        lowered, Cast(Literal(null), StringType)) },
    "toUUIDOrZero" -> { es =>
      val lowered = Lower(Cast(es.head, StringType))
      If(RLike(lowered, Literal(
        "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")),
        lowered, Literal("00000000-0000-0000-0000-000000000000")) },
    "toDate32OrNull" -> { es => Cast(es.head, DateType, None, EvalMode.TRY) },
    "toDate32OrZero" -> { es =>
      Coalesce(Seq(Cast(es.head, DateType, None, EvalMode.TRY),
        Literal(0, DateType))) },
    "reinterpretAsUInt64" -> si(DecimalType(20, 0),
      "reinterpretAsUInt64", Seq(StringType)),
    "reinterpretAsUInt32" -> si(LongType,
      "reinterpretAsUInt32", Seq(StringType)),
    "reinterpretAsString" -> { es =>
      si(StringType, "reinterpretAsString",
        Seq(LongType))(Seq(Cast(es.head, LongType))) },
    "toFixedString" -> { es =>
      si(StringType, "toFixedString", Seq(StringType, IntegerType))(
        Seq(es(0), Cast(es(1), IntegerType))) },
    "toStringCutToZero" -> si(StringType, "toStringCutToZero",
      Seq(StringType)),
    "toTypeName" -> builtin("typeof"),
    "toColumnTypeName" -> builtin("typeof"),
    "defaultValueOfTypeName" -> { es =>
      strLit(es.head, "defaultValueOfTypeName", "type name")
        .toLowerCase match {
        case t if t.startsWith("int") || t.startsWith("uint") =>
          Literal(0L)
        case t if t.startsWith("float") || t.startsWith("decimal") =>
          Literal(0.0)
        case "string" | "fixedstring" => Literal("")
        case t if t.startsWith("date") => Cast(Literal(0L), DateType)
        case t if t.startsWith("array") =>
          builtin("array_remove")(Seq(CreateArray(Seq(Literal(0))),
            Literal(0)))
        case other => throw new UnsupportedOperationException(
          s"defaultValueOfTypeName: unmapped type '$other'")
      } },
    // type-annotation no-ops: Spark columns are nullable; low-level
    // column materialization has no DataFrame meaning
    "toNullable"    -> { es => es.head },
    "assumeNotNull" -> { es => es.head },
    "materialize"   -> { es => es.head },
    "identity" -> { es => es.head },
    "ignore" -> { _ => Literal(0) },

    // arithmetic and operator names
    "plus"     -> { es => Add(es(0), es(1)) },
    "minus"    -> { es => Subtract(es(0), es(1)) },
    "multiply" -> { es => Multiply(es(0), es(1)) },
    // CH divide is ALWAYS floating-point division (intDiv is integral)
    "divide"   -> { es => Divide(Cast(es(0), DoubleType), Cast(es(1), DoubleType)) },
    "intDiv"  -> { es => builtin("div")(es.map(e => Cast(e, LongType))) },
    "intDivOrZero" -> { es =>
      val cast = es.map(e => Cast(e, LongType))
      If(EqualTo(cast(1), Literal(0L)), Literal(0L), builtin("div")(cast)) },
    "modulo"  -> builtin("mod"),
    "moduloOrZero" -> { es =>
      If(EqualTo(es(1), Literal(0)), Literal(0), builtin("mod")(es)) },
    "positiveModulo" -> builtin("pmod"),
    "negativeModulo" -> { es => Remainder(es(0), es(1)) },
    "negate"  -> builtin("negative"),
    "exp2"    -> { es => builtin("pow")(Literal(2.0) +: es) },
    "exp10"   -> { es => builtin("pow")(Literal(10.0) +: es) },
    "intExp2" -> { es =>
      builtin("shiftleft")(Seq(Literal(1L), Cast(es.head, IntegerType))) },
    "intExp10" -> { es =>
      Cast(builtin("power")(Seq(Literal(10.0),
        Cast(es.head, DoubleType))), LongType) },
    // Euclid fold: 96 rounds bound any 64-bit pair (Fibonacci worst
    // case ~91 divisions); spent rounds with b = 0 are no-ops
    "gcd" -> { es => gcdExpr(es) },
    "lcm" -> { es =>
      val a = Abs(Cast(es(0), LongType)); val b = Abs(Cast(es(1), LongType))
      val g = gcdExpr(es)
      If(Or(EqualTo(a, Literal(0L)), EqualTo(b, Literal(0L))), Literal(0L),
        Multiply(Cast(IntegralDivide(a, g), LongType), b)) },
    "max2"  -> { es => Greatest(es.map(e => Cast(e, DoubleType))) },
    "min2"  -> { es => Least(es.map(e => Cast(e, DoubleType))) },
    "clamp" -> { es => Least(Seq(Greatest(Seq(es(0), es(1))), es(2))) },
    "equals"          -> { es => EqualTo(es(0), es(1)) },
    "notEquals"       -> { es => Not(EqualTo(es(0), es(1))) },
    "greater"         -> { es => GreaterThan(es(0), es(1)) },
    "less"            -> { es => LessThan(es(0), es(1)) },
    "greaterOrEquals" -> { es => GreaterThanOrEqual(es(0), es(1)) },
    "lessOrEquals"    -> { es => LessThanOrEqual(es(0), es(1)) },
    // null-safe equality — Spark's <=> as a named function
    "isNotDistinctFrom" -> { es => EqualNullSafe(es(0), es(1)) },
    "xor" -> { es => Not(EqualTo(Cast(es(0), BooleanType), Cast(es(1), BooleanType))) },

    // conditionals and predicates
    "multiIf" -> { es =>
      val (branches, orElse) =
        if (es.size % 2 == 1) (es.init, Some(es.last)) else (es, None)
      CaseWhen(branches.grouped(2).map { case Seq(c, v) => (c, v) }.toSeq, orElse)
    },
    "ifNull"  -> builtin("coalesce"),
    "empty"     -> { es => EqualTo(builtin("length")(es), Literal(0)) },
    "notEmpty"  -> { es => GreaterThan(builtin("length")(es), Literal(0)) },
    "isFinite" -> { es =>
      val x = Cast(es.head, DoubleType)
      And(Not(IsNaN(x)), LessThan(Abs(x), Literal(Double.PositiveInfinity))) },
    "isInfinite" -> { es =>
      EqualTo(Abs(Cast(es.head, DoubleType)), Literal(Double.PositiveInfinity)) },
    "ifNotFinite" -> { es =>
      val x = Cast(es(0), DoubleType)
      If(And(Not(IsNaN(x)), LessThan(Abs(x), Literal(Double.PositiveInfinity))),
        es(0), es(1)) },
    "isZeroOrNull" -> { es =>
      Or(IsNull(es.head), EqualTo(es.head, Literal(0))) },
    "nanToNull" -> { es =>
      val x = Cast(es.head, DoubleType)
      If(builtin("isnan")(Seq(x)), Cast(Literal(null), DoubleType), x) },

    // rounding
    "roundBankers"   -> builtin("bround"),
    // roundDown(x, arr): the largest boundary <= x, else the first
    "roundDown" -> { es =>
      val x = Cast(es(0), DoubleType)
      val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
      val e = UnresolvedNamedLambdaVariable(Seq("e"))
      val first = Cast(builtin("element_at")(Seq(es(1), Literal(1))),
        DoubleType)
      builtin("aggregate")(Seq(es(1), first,
        LambdaFunction(
          If(LessThanOrEqual(Cast(e, DoubleType), x),
            Greatest(Seq(acc, Cast(e, DoubleType))), acc),
          Seq(acc, e)))) },
    "roundToExp2" -> { es =>
      val x = Cast(es.head, DoubleType)
      If(LessThan(x, Literal(1.0)), Literal(0L),
        Cast(Pow(Literal(2.0), Floor(Divide(Log(x), Log(Literal(2.0))))),
          LongType)) },
    "roundAge" -> { es =>
      val x = Cast(es.head, DoubleType)
      CaseWhen(Seq(
        (LessThan(x, Literal(1.0)), Literal(0)),
        (LessThan(x, Literal(18.0)), Literal(17)),
        (LessThan(x, Literal(25.0)), Literal(18)),
        (LessThan(x, Literal(35.0)), Literal(25)),
        (LessThan(x, Literal(45.0)), Literal(35)),
        (LessThan(x, Literal(55.0)), Literal(45))), Some(Literal(55))) },
    "roundDuration" -> { es =>
      val x = Cast(es.head, DoubleType)
      val ladder = Seq(36000, 18000, 7200, 3600, 1800, 1200, 600,
        300, 240, 180, 120, 60, 30, 10, 1)
      CaseWhen(ladder.map(t =>
        (GreaterThanOrEqual(x, Literal(t.toDouble)), Literal(t))),
        Some(Literal(0))) },
    "widthBucket" -> builtin("width_bucket"),
    // decimal digits needed for an integer value
    "countDigits" -> { es =>
      Length(Cast(Abs(Cast(es.head, LongType)), StringType)) },

    // bits
    "bitAnd"  -> { es => BitwiseAnd(es(0), es(1)) },
    "bitOr"   -> { es => BitwiseOr(es(0), es(1)) },
    "bitXor"  -> { es => BitwiseXor(es(0), es(1)) },
    "bitNot"  -> { es => BitwiseNot(es.head) },
    "bitShiftLeft"  -> builtin("shiftleft"),
    "bitShiftRight" -> builtin("shiftright"),
    "bitRotateLeft" -> { es =>
      val x = Cast(es(0), LongType)
      val n = Pmod(Cast(es(1), IntegerType), Literal(64))
      BitwiseOr(ShiftLeft(x, n),
        ShiftRightUnsigned(x, Subtract(Literal(64), n))) },
    "bitRotateRight" -> { es =>
      val x = Cast(es(0), LongType)
      val n = Pmod(Cast(es(1), IntegerType), Literal(64))
      BitwiseOr(ShiftRightUnsigned(x, n),
        ShiftLeft(x, Subtract(Literal(64), n))) },
    "bitTest" -> { es =>
      BitwiseAnd(ShiftRight(Cast(es(0), LongType), es(1)), Literal(1L)) },
    "bitTestAll" -> { es =>
      val mask = bitMask(es.tail)
      EqualTo(BitwiseAnd(Cast(es.head, LongType), mask), mask) },
    "bitTestAny" -> { es =>
      GreaterThan(BitwiseAnd(Cast(es.head, LongType), bitMask(es.tail)),
        Literal(0L)) },
    "bitCount"   -> builtin("bit_count"),
    "bitHammingDistance" -> { es =>
      BitwiseCount(BitwiseXor(Cast(es(0), LongType),
        Cast(es(1), LongType))) },
    // 64-bit byte reversal (java.lang.Long.reverseBytes, exact for
    // the UInt64 lane; narrower lanes widen first)
    "byteSwap" -> { es =>
      si(LongType, "reverseBytes", Seq(LongType), classOf[java.lang.Long])(
        Seq(Cast(es.head, LongType))) },
    "bitmaskToArray" -> { es => bitmaskArr(es.head) },
    "bitmaskToList" -> { es =>
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      builtin("array_join")(Seq(
        builtin("transform")(Seq(bitmaskArr(es.head),
          LambdaFunction(Cast(x, StringType), Seq(x)))),
        Literal(","))) },

    // closed-form math
    "erf" -> { es => Subtract(Literal(1.0), signedErfc(es.head)) },
    "erfc" -> { es => signedErfc(es.head) },
    "lgamma" -> gammaKernel("lgammaOf"),
    "tgamma" -> gammaKernel("tgammaOf"),
    "sigmoid" -> { es =>
      val x = Cast(es.head, DoubleType)
      Divide(Literal(1.0), Add(Literal(1.0),
        builtin("exp")(Seq(UnaryMinus(x))))) },
    "logit" -> { es =>
      val x = Cast(es.head, DoubleType)
      builtin("ln")(Seq(Divide(x, Subtract(Literal(1.0), x)))) },

    // vectors: the embedding story's SQL surface, in the same IEEE fold
    // order as operators/Ann
    "dotProduct" -> { es => vecFold(es(0), es(1),
      (a, b) => Multiply(a, b)) },
    "arrayDotProduct" -> { es =>
      val a = UnresolvedNamedLambdaVariable(Seq("a"))
      val b = UnresolvedNamedLambdaVariable(Seq("b"))
      val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
      val y = UnresolvedNamedLambdaVariable(Seq("y"))
      val prods = builtin("zip_with")(Seq(es(0), es(1),
        LambdaFunction(Multiply(Cast(a, DoubleType), Cast(b, DoubleType)),
          Seq(a, b))))
      builtin("aggregate")(Seq(prods, Literal(0.0),
        LambdaFunction(Add(acc, y), Seq(acc, y)))) },
    "L1Distance" -> { es => vecFold(es(0), es(1),
      (a, b) => builtin("abs")(Seq(Subtract(a, b)))) },
    "L2Distance" -> { es => builtin("sqrt")(Seq(vecFold(es(0), es(1),
      (a, b) => Multiply(Subtract(a, b), Subtract(a, b))))) },
    "L2SquaredDistance" -> { es => vecFold(es(0), es(1),
      (a, b) => Multiply(Subtract(a, b), Subtract(a, b))) },
    "LinfDistance" -> { es =>
      val a = UnresolvedNamedLambdaVariable(Seq("__vd_a"))
      val b = UnresolvedNamedLambdaVariable(Seq("__vd_b"))
      builtin("array_max")(Seq(builtin("zip_with")(Seq(es(0), es(1),
        LambdaFunction(builtin("abs")(Seq(Subtract(
          Cast(a, DoubleType), Cast(b, DoubleType)))), Seq(a, b)))))) },
    "LpNorm" -> { es =>
      val p = Cast(es(1), DoubleType)
      val acc = UnresolvedNamedLambdaVariable(Seq("__lp_acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("__lp_x"))
      builtin("power")(Seq(
        builtin("aggregate")(Seq(es(0), Literal(0.0),
          LambdaFunction(Add(acc, builtin("power")(Seq(
            Abs(Cast(x, DoubleType)), p))), Seq(acc, x)))),
        Divide(Literal(1.0), p))) },
    "L1Norm" -> { es => arrFold(es(0), a => builtin("abs")(Seq(a))) },
    "L2Norm" -> { es =>
      builtin("sqrt")(Seq(arrFold(es(0), a => Multiply(a, a)))) },
    "L2SquaredNorm" -> { es => arrFold(es(0), a => Multiply(a, a)) },
    "LinfNorm" -> { es =>
      val a = UnresolvedNamedLambdaVariable(Seq("__vn_a"))
      builtin("array_max")(Seq(builtin("transform")(Seq(es(0),
        LambdaFunction(builtin("abs")(Seq(Cast(a, DoubleType))),
          Seq(a)))))) },
    // native one-pass kernel (functions.CosineSim) — codegen'd;
    // double-cast so SQL decimal literals type-check
    "cosineDistance" -> { es =>
      Subtract(Literal(1.0), CosineSim(
        Cast(es(0), ArrayType(DoubleType)), Cast(es(1), ArrayType(DoubleType)))) },
    "arrayCosineSimilarity" -> { es => CosineSim(
      Cast(es(0), ArrayType(DoubleType)), Cast(es(1), ArrayType(DoubleType))) },

    // random draws
    "randUniform" -> { es =>
      Add(Cast(es(0), DoubleType),
        Multiply(rnd, Subtract(Cast(es(1), DoubleType),
          Cast(es(0), DoubleType)))) },
    "randNormal" -> { es =>
      Add(Cast(es(0), DoubleType),
        Multiply(builtin("randn")(Seq.empty), Cast(es(1), DoubleType))) },
    "randExponential" -> { es =>
      Divide(UnaryMinus(builtin("ln")(Seq(Subtract(Literal(1.0), rnd)))),
        Cast(es(0), DoubleType)) },
    "randBernoulli" -> { es =>
      Cast(LessThan(rnd, Cast(es(0), DoubleType)), IntegerType) },
    // nondeterministic family, built on Spark's own rand()/uuid()
    "rand64" -> { _ =>
      XxHash64(Seq(builtin("rand")(Seq.empty)), 7L) },
    "randCanonical" -> { _ => builtin("rand")(Seq.empty) },
    "randomString" -> randomBytes(asPrintable = false),
    "randomPrintableASCII" -> randomBytes(asPrintable = true)
  ) ++ convAliases ++ decimalConvAliases
}
