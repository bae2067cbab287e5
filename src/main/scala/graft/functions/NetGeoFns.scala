package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import FnBuilders._

/** Network and geo functions: IPv4/IPv6/MAC conversions, great-circle
  * and polygon geometry, geohash, WKT, space-filling curves
  * (DataTypeCustomIPv4AndIPv6.cpp, DataTypeCustomGeo domains). */
private[graft] object NetGeoFns {

  private val ipv4Valid =
    "^((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])$"

  private val geohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Haversine `a` term shared by the great-circle family:
    * sin²(Δlat/2) + cos(lat1)·cos(lat2)·sin²(Δlon/2). */
  private def haversineA(es: Seq[Expression]): Expression = {
    val Seq(lon1, lat1, lon2, lat2) = es
    def rad(e: Expression) = builtin("radians")(Seq(e))
    def sin2half(d: Expression) = builtin("pow")(Seq(
      builtin("sin")(Seq(Divide(d, Literal(2.0)))), Literal(2.0)))
    Add(sin2half(Subtract(rad(lat2), rad(lat1))),
      Multiply(Multiply(builtin("cos")(Seq(rad(lat1))),
        builtin("cos")(Seq(rad(lat2)))),
        sin2half(Subtract(rad(lon2), rad(lon1)))))
  }

  /** accepts a Ring directly or a single-ring Polygon (array-of-ring);
    * build-time unwrap when the literal shape is visible, else Ring. */
  private def flattenRing(e: Expression): Expression = e match {
    case CreateArray(Seq(inner: CreateArray), _)
        if inner.children.nonEmpty => inner
    case other => other
  }

  private def readWktRing: Builder = { es =>
    val inner = builtin("regexp_extract")(Seq(es.head,
      Literal("\\(\\(\\s*([^()]*?)\\s*\\)\\)"), Literal(1)))
    val parts = builtin("split")(Seq(inner, Literal("\\s*,\\s*")))
    builtin("transform")(Seq(parts, lam1("__g3_x") { p =>
      val xy = builtin("split")(Seq(builtin("trim")(Seq(p)),
        Literal("\\s+")))
      CreateNamedStruct(Seq(
        Literal("_1"), Cast(builtin("element_at")(Seq(xy, Literal(1))),
          DoubleType),
        Literal("_2"), Cast(builtin("element_at")(Seq(xy, Literal(2))),
          DoubleType)))
    }))
  }

  private def v4valid(e: Expression): Expression = RLike(e, Literal(ipv4Valid))

  /** Dotted quad → UInt32 (as BIGINT). */
  private def v4num(e: Expression): Expression = {
    val parts = builtin("split")(Seq(e, Literal("\\.")))
    def oct(i: Int, mult: Long): Expression =
      Multiply(Cast(builtin("element_at")(Seq(parts, Literal(i))), LongType),
        Literal(mult))
    Add(Add(oct(1, 16777216L), oct(2, 65536L)), Add(oct(3, 256L), oct(4, 1L)))
  }

  private def v6valid(e: Expression): Expression =
    si(BooleanType, "isIPv6String", Seq(StringType))(Seq(e))
  private def v6num(e: Expression): Expression =
    si(BinaryType, "toIPv6", Seq(StringType))(Seq(e))

  def aliases: Seq[(String, Builder)] = Seq(
    // IPv4: a UInt32 with dotted-quad presentation; the DDL maps the
    // TYPE to STRING, these convert between the two renderings
    "IPv4NumToString" -> { es =>
      val n = Cast(es.head, LongType)
      def oct(shift: Int): Expression =
        Cast(BitwiseAnd(ShiftRight(n, Literal(shift)), Literal(255L)), StringType)
      builtin("concat_ws")(Seq(Literal("."), oct(24), oct(16), oct(8), oct(0)))
    },
    "IPv4StringToNum" -> { es => v4num(es.head) },
    "IPv4StringToNumOrNull" -> { es =>
      If(v4valid(es.head), v4num(es.head),
        Cast(Literal(null), LongType)) },
    "IPv4StringToNumOrZero" -> { es =>
      If(v4valid(es.head), v4num(es.head), Literal(0L)) },
    "isIPv4String" -> { es => v4valid(es.head) },
    // toIPv4* keep the STRING presentation (our DDL maps the IPv4
    // type to STRING); invalid input → NULL / 0.0.0.0 — the OrNull
    // contract; plain toIPv4 also NULLs instead of throwing (the
    // parseReadableSize divergence note)
    "toIPv4" -> { es =>
      If(v4valid(es.head), Cast(es.head, StringType),
        Cast(Literal(null), StringType)) },
    "toIPv4OrNull" -> { es =>
      If(v4valid(es.head), Cast(es.head, StringType),
        Cast(Literal(null), StringType)) },
    "toIPv4OrZero" -> { es =>
      If(v4valid(es.head), Cast(es.head, StringType),
        Literal("0.0.0.0")) },
    // CIDR → (first, last) address of the block, as UInt32 values
    "IPv4CIDRToRange" -> { es =>
      val ip = Cast(es(0), LongType)
      val bits = Cast(es(1), IntegerType)
      val mask = If(EqualTo(bits, Literal(0)), Literal(0L),
        BitwiseAnd(ShiftLeft(Literal(-1L), Subtract(Literal(32), bits)),
          Literal(0xFFFFFFFFL)))
      val lo = BitwiseAnd(ip, mask)
      val hi = BitwiseOr(lo,
        BitwiseAnd(BitwiseNot(mask), Literal(0xFFFFFFFFL)))
      CreateNamedStruct(Seq(Literal("_1"), lo, Literal("_2"), hi)) },
    // ::ffff:a.b.c.d — the 16-byte v4-mapped form. toIPv4 here
    // returns the dotted STRING presentation, so the reference-
    // legal composition IPv4ToIPv6(toIPv4(s)) must work: dotted
    // strings route through IPv4StringToNum, anything else is the
    // numeric carrier.
    "IPv4ToIPv6" -> { es =>
      // explicit casts keep the If RESOLVED at build time — the
      // downstream builtin() builders assert resolved arguments
      val s = Cast(es.head, StringType)
      val n = If(v4valid(s), Cast(v4num(s), LongType),
        Cast(es.head, LongType))
      builtin("unhex")(Seq(Concat(Seq(
        Literal("00000000000000000000FFFF"),
        builtin("lpad")(Seq(
          builtin("hex")(Seq(n)),
          Literal(8), Literal("0"))))))) },
    "isIPAddressInRange" -> { es =>
      si(BooleanType, "isIPAddressInRange", Seq(StringType, StringType),
        ChNumHelpers.getClass)(
        Seq(Cast(es(0), StringType), Cast(es(1), StringType))) },

    // IPv6
    "IPv6StringToNum" -> si(BinaryType, "ipv6StringToNum", Seq(StringType)),
    "IPv6StringToNumOrNull" -> { es =>
      If(v6valid(es.head),
        si(BinaryType, "ipv6StringToNum", Seq(StringType))(Seq(es.head)),
        Cast(Literal(null), BinaryType)) },
    "IPv6NumToString" -> si(StringType, "ipv6NumToString",
      Seq(BinaryType)),
    "toIPv6" -> { es => v6num(es.head) },
    "toIPv6OrNull" -> { es =>
      If(v6valid(es.head), v6num(es.head),
        Cast(Literal(null), BinaryType)) },
    "toIPv6OrZero" -> { es =>
      If(v6valid(es.head), v6num(es.head),
        builtin("unhex")(Seq(Literal("0" * 32)))) },
    // UInt8 contract like the reference's validators
    "isIPv6String" -> { es =>
      If(v6valid(es.head), Literal(1), Literal(0)) },
    "IPv6CIDRToRange" -> { es =>
      val addr = es.head
      val pref = Cast(es(1), IntegerType)
      CreateNamedStruct(Seq(
        Literal("_1"), si(BinaryType, "ipv6CidrLow",
          Seq(BinaryType, IntegerType))(Seq(addr, pref)),
        Literal("_2"), si(BinaryType, "ipv6CidrHigh",
          Seq(BinaryType, IntegerType))(Seq(addr, pref)))) },
    "cutIPv6" -> { es =>
      si(StringType, "cutIPv6", Seq(BinaryType, IntegerType, IntegerType))(
        Seq(es(0), Cast(es(1), IntegerType), Cast(es(2), IntegerType))) },

    // MAC: 6-byte UInt48 ↔ colon-hex (uppercase, the canonical
    // IEEE rendering); invalid strings → 0 like the reference
    "MACNumToString" -> { es =>
      val n = Cast(es.head, LongType)
      val parts = (5 to 0 by -1).map { b =>
        builtin("lpad")(Seq(
          builtin("hex")(Seq(
            BitwiseAnd(ShiftRight(n, Literal(b * 8)), Literal(255L)))),
          Literal(2), Literal("0")))
      }
      builtin("concat_ws")(Literal(":") +: parts) },
    "MACStringToNum" -> { es =>
      val s = Cast(es.head, StringType)
      If(RLike(s, Literal("^([0-9A-Fa-f]{2}:){5}[0-9A-Fa-f]{2}$")),
        Cast(builtin("conv")(Seq(
          builtin("translate")(Seq(s, Literal(":"), Literal(""))),
          Literal(16), Literal(10))), LongType),
        Literal(0L)) },
    "MACStringToOUI" -> { es =>
      val s = Cast(es.head, StringType)
      If(RLike(s, Literal("^([0-9A-Fa-f]{2}:){5}[0-9A-Fa-f]{2}$")),
        Cast(builtin("conv")(Seq(
          builtin("translate")(Seq(
            builtin("substring")(Seq(s, Literal(1), Literal(8))),
            Literal(":"), Literal(""))),
          Literal(16), Literal(10))), LongType),
        Literal(0L)) },

    // geo
    "greatCircleDistance" -> { es =>
      require(es.length == 4, "greatCircleDistance(lon1, lat1, lon2, lat2)")
      Multiply(Literal(2 * 6372797.560856),
        builtin("asin")(Seq(builtin("sqrt")(Seq(haversineA(es)))))) },
    // CH geoDistance refines the ellipsoid; the haversine sphere is
    // the documented approximation here (same signature/contract)
    "geoDistance" -> { es =>
      require(es.length == 4, "geoDistance(lon1, lat1, lon2, lat2)")
      Multiply(Literal(2 * 6372797.560856),
        builtin("asin")(Seq(builtin("sqrt")(Seq(haversineA(es)))))) },
    // central angle in DEGREES (CH greatCircleAngle contract)
    "greatCircleAngle" -> { es =>
      require(es.length == 4, "greatCircleAngle(lon1, lat1, lon2, lat2)")
      builtin("degrees")(Seq(Multiply(Literal(2.0),
        builtin("asin")(Seq(builtin("sqrt")(Seq(haversineA(es)))))))) },
    // pointInPolygon((x, y), ring): even-odd ray casting over the Geo
    // Ring vertex array (one fold, vertex-order independent); points
    // exactly on a horizontal edge follow the half-open crossing
    // convention, the standard PNPOLY contract
    "pointInPolygon" -> { es =>
      require(es.length == 2, "pointInPolygon(point, polygon)")
      def f1(e: Expression) = fld(e, "_1")
      def f2(e: Expression) = fld(e, "_2")
      val px = Cast(f1(es(0)), DoubleType)
      val py = Cast(f2(es(0)), DoubleType)
      val poly = es(1)
      val m = builtin("size")(Seq(poly))
      val acc = UnresolvedNamedLambdaVariable(Seq("__pip_acc"))
      val iv = UnresolvedNamedLambdaVariable(Seq("__pip_i"))
      val vi = builtin("element_at")(Seq(poly, iv))
      val vj = fld(acc, "j")
      val (xi, yi) = (Cast(f1(vi), DoubleType), Cast(f2(vi), DoubleType))
      val (xj, yj) = (Cast(f1(vj), DoubleType), Cast(f2(vj), DoubleType))
      val straddles = Not(EqualTo(GreaterThan(yi, py), GreaterThan(yj, py)))
      val xCross = Add(Divide(Multiply(Subtract(xj, xi), Subtract(py, yi)),
        Subtract(yj, yi)), xi)
      val crosses = And(straddles, LessThan(px, xCross))
      val in = fld(acc, "in")
      val step = CreateNamedStruct(Seq(
        Literal("in"), If(crosses, Not(in), in),
        Literal("j"), vi))
      val fin = UnresolvedNamedLambdaVariable(Seq("__pip_f"))
      builtin("aggregate")(Seq(
        builtin("sequence")(Seq(Literal(1), m)),
        CreateNamedStruct(Seq(
          Literal("in"), Literal(false),
          Literal("j"), builtin("element_at")(Seq(poly, m)))),
        LambdaFunction(step, Seq(acc, iv)),
        LambdaFunction(fld(fin, "in"), Seq(fin)))) },
    // pointInEllipses(x, y, x0, y0, a0, b0[, x1, y1, a1, b1, …])
    "pointInEllipses" -> { es =>
      require(es.length >= 6 && (es.length - 2) % 4 == 0,
        "pointInEllipses(x, y, x0, y0, a0, b0, …)")
      val x = Cast(es(0), DoubleType); val y = Cast(es(1), DoubleType)
      val hits = es.drop(2).grouped(4).map { g =>
        val dx = Divide(Subtract(x, Cast(g(0), DoubleType)),
          Cast(g(2), DoubleType))
        val dy = Divide(Subtract(y, Cast(g(1), DoubleType)),
          Cast(g(3), DoubleType))
        LessThanOrEqual(Add(Multiply(dx, dx), Multiply(dy, dy)),
          Literal(1.0)): Expression
      }.toSeq
      If(hits.reduce(Or(_, _)), Literal(1), Literal(0)) },
    // geohashEncode(lon, lat[, precision]) / geohashDecode(str) — the
    // public geohash algorithm (base-32 interleaved bisection, lon
    // first). Encode is a COMPILED kernel (ChStrHelpers.geohashEncode,
    // the bisection in closed scaled-integer form — every midpoint is
    // an exact dyadic double, so the scaled floor picks the same
    // cell); it replaced a 5·p-step interpreted HOF fold per row
    // (r14; GeoHashKernelSpec pins kernel ≡ a plain-Scala bisection
    // reference over a deterministic sweep). Decode stays a Catalyst
    // fold (literal-decode use sites only).
    "geohashEncode" -> { es =>
      val p = es.drop(2).headOption.map {
        case Literal(i: Int, IntegerType) => i
        case other => throw new IllegalArgumentException(
          s"geohashEncode precision must be a literal, got $other")
      }.getOrElse(12)
      require(p >= 1 && p <= 12, s"geohash precision 1..12, got $p")
      si(StringType, "geohashEncode", Seq(DoubleType, DoubleType, IntegerType))(
        Seq(Cast(es(0), DoubleType), Cast(es(1), DoubleType), Literal(p))) },
    "geohashDecode" -> { es =>
      val s = Cast(es.head, StringType)
      val acc = UnresolvedNamedLambdaVariable(Seq("__gd_acc"))
      val iv = UnresolvedNamedLambdaVariable(Seq("__gd_i"))
      def f(n: String) = fld(acc, n)
      def st(lonLo: Expression, lonHi: Expression, latLo: Expression,
          latHi: Expression) =
        CreateNamedStruct(Seq(Literal("a"), lonLo, Literal("b"), lonHi,
          Literal("c"), latLo, Literal("d"), latHi))
      // bit i (0-based): char i/5, bit 4 − i%5 of its alphabet rank
      val ch = builtin("substring")(Seq(s,
        Cast(Add(IntegralDivide(iv, Literal(5L)), Literal(1L)), IntegerType),
        Literal(1)))
      val rank = Subtract(
        Cast(builtin("instr")(Seq(Literal(geohashAlphabet), ch)), LongType),
        Literal(1L))
      val bit = BitwiseAnd(ShiftRight(rank,
        Cast(Subtract(Literal(4L), Pmod(iv, Literal(5L))), IntegerType)),
        Literal(1L))
      val isLon = EqualTo(Pmod(iv, Literal(2L)), Literal(0L))
      val midLon = Divide(Add(f("a"), f("b")), Literal(2.0))
      val midLat = Divide(Add(f("c"), f("d")), Literal(2.0))
      val one = EqualTo(bit, Literal(1L))
      val step = If(isLon,
        If(one, st(midLon, f("b"), f("c"), f("d")),
          st(f("a"), midLon, f("c"), f("d"))),
        If(one, st(f("a"), f("b"), midLat, f("d")),
          st(f("a"), f("b"), f("c"), midLat)))
      val fin = UnresolvedNamedLambdaVariable(Seq("__gd_fin"))
      def ff(n: String) = fld(fin, n)
      builtin("aggregate")(Seq(
        builtin("sequence")(Seq(Literal(0L),
          Subtract(Multiply(Cast(builtin("length")(Seq(s)), LongType),
            Literal(5L)), Literal(1L)))),
        st(Literal(-180.0), Literal(180.0), Literal(-90.0), Literal(90.0)),
        LambdaFunction(step, Seq(acc, iv)),
        LambdaFunction(CreateNamedStruct(Seq(
          Literal("_1"), Divide(Add(ff("a"), ff("b")), Literal(2.0)),
          Literal("_2"), Divide(Add(ff("c"), ff("d")), Literal(2.0)))),
          Seq(fin)))) },
    // H3 cell index layout (public spec): resolution = bits 52-55
    "h3GetResolution" -> { es =>
      Cast(BitwiseAnd(ShiftRight(Cast(es.head, LongType), Literal(52)),
        Literal(15L)), IntegerType) },
    "readWKTPoint" -> { es =>
      def part(i: Int) = Cast(builtin("regexp_extract")(Seq(es.head,
        Literal("POINT\\s*\\(\\s*(-?[\\d.eE+]+)\\s+(-?[\\d.eE+]+)\\s*\\)"),
        Literal(i))), DoubleType)
      CreateNamedStruct(Seq(
        Literal("_1"), part(1), Literal("_2"), part(2))) },
    // single-ring polygons (the Ring/Polygon common case; nested
    // hole rings are out of scope for the textual reader)
    "readWKTRing" -> readWktRing,
    "readWKTPolygon" -> { es => CreateArray(Seq(readWktRing(es))) },
    "wkt" -> { es =>
      Concat(Seq(Literal("POINT("),
        Cast(fld(es.head, "_1"), StringType), Literal(" "),
        Cast(fld(es.head, "_2"), StringType), Literal(")"))) },
    // minimal SVG rendering of a ring
    "svg" -> { es =>
      val ring = flattenRing(es.head)
      Concat(Seq(Literal("<polygon points=\""),
        builtin("array_join")(Seq(
          builtin("transform")(Seq(ring, lam1("__g3_x")(p =>
            Concat(Seq(Cast(fld(p, "_1"), StringType), Literal(","),
              Cast(fld(p, "_2"), StringType)))))),
          Literal(" "))),
        Literal("\"/>"))) },
    // shoelace over the ring (closed or open — the wrap term closes)
    "polygonAreaCartesian" -> { es =>
      val ring = flattenRing(es.head)
      val n = builtin("size")(Seq(ring))
      val cross = builtin("aggregate")(Seq(
        builtin("sequence")(Seq(Literal(1), n)),
        Literal(0.0),
        lam2("__g3_a", "__g3_b") { (acc, i) =>
          val p = builtin("element_at")(Seq(ring, i))
          val q = builtin("element_at")(Seq(ring,
            Add(Pmod(i, n), Literal(1))))
          Add(acc, Subtract(
            Multiply(Cast(fld(p, "_1"), DoubleType),
              Cast(fld(q, "_2"), DoubleType)),
            Multiply(Cast(fld(q, "_1"), DoubleType),
              Cast(fld(p, "_2"), DoubleType))))
        }))
      Divide(Abs(cross), Literal(2.0)) },
    "polygonPerimeterCartesian" -> { es =>
      val ring = flattenRing(es.head)
      val n = builtin("size")(Seq(ring))
      builtin("aggregate")(Seq(
        builtin("sequence")(Seq(Literal(1), n)),
        Literal(0.0),
        lam2("__g3_a", "__g3_b") { (acc, i) =>
          val p = builtin("element_at")(Seq(ring, i))
          val q = builtin("element_at")(Seq(ring,
            Add(Pmod(i, n), Literal(1))))
          val dx = Subtract(Cast(fld(p, "_1"), DoubleType),
            Cast(fld(q, "_1"), DoubleType))
          val dy = Subtract(Cast(fld(p, "_2"), DoubleType),
            Cast(fld(q, "_2"), DoubleType))
          Add(acc, builtin("sqrt")(Seq(
            Add(Multiply(dx, dx), Multiply(dy, dy)))))
        })) },

    // space-filling curves
    "mortonEncode" -> { es =>
      require(es.size == 2, "mortonEncode(x, y): the 2-D form")
      si(LongType, "mortonEncode", Seq(LongType, LongType), ChNumHelpers.getClass)(
        es.map(Cast(_, LongType))) },
    "mortonDecode" -> { es =>
      require(intLit(es(0), "mortonDecode", "tuple size") == 2,
        "mortonDecode(2, code): the 2-D form")
      val c = Cast(es(1), LongType)
      tupleOf(Seq(
        si(LongType, "mortonDecodeX", Seq(LongType), ChNumHelpers.getClass)(Seq(c)),
        si(LongType, "mortonDecodeY", Seq(LongType), ChNumHelpers.getClass)(Seq(c)))) },
    "hilbertEncode" -> { es =>
      require(es.size == 2, "hilbertEncode(x, y): the 2-D form")
      si(LongType, "hilbertEncode", Seq(LongType, LongType), ChNumHelpers.getClass)(
        es.map(Cast(_, LongType))) },
    "hilbertDecode" -> { es =>
      require(intLit(es(0), "hilbertDecode", "tuple size") == 2,
        "hilbertDecode(2, code): the 2-D form")
      val c = Cast(es(1), LongType)
      tupleOf(Seq(
        si(LongType, "hilbertDecodeX", Seq(LongType), ChNumHelpers.getClass)(Seq(c)),
        si(LongType, "hilbertDecodeY", Seq(LongType), ChNumHelpers.getClass)(Seq(c)))) }
  )
}
