package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import FnBuilders._

/** Hashes and ids: the hash-function family, near-duplicate
  * fingerprints, AES, and the UUID / ULID / snowflake ids. Where
  * byte-compatibility with a native hash is impossible the name is a
  * role-equivalent on Spark's codegen'd kernels, documented so (the
  * cityHash64 → xxhash64 policy). */
private[graft] object HashFns {

  /** 64-bit hash-family role-equivalents: distinct seeds keep the
    * names mutually distinct (as the native functions are) while
    * staying on Spark's codegen'd XxHash64 kernel. Not byte-compatible
    * with the native algorithms — the cityHash64 policy. */
  private def h64(seed: Long): Builder = es => XxHash64(es, seed)
  private def h32(seed: Int): Builder = es => Murmur3Hash(es, seed)

  /** md5-derived 128-bit role stand-in (FixedString(16) in CH). */
  private def h128(salt: String): Builder = es =>
    builtin("unhex")(Seq(builtin("md5")(Seq(
      Concat(Literal(salt) +: es.map(e => Cast(e, StringType)))))))

  /** character n-grams of a string as an array (empty when shorter
    * than n). */
  private def charGrams(s: Expression, n: Int): Expression = {
    val len = Length(s)
    If(GreaterThanOrEqual(len, Literal(n)),
      builtin("transform")(Seq(
        builtin("sequence")(Seq(Literal(1),
          Subtract(len, Literal(n - 1)))),
        lam1("__g3_x")(i => Substring(s, i, Literal(n))))),
      builtin("array_repeat")(Seq(Literal(""), Literal(0))))
  }

  /** The optional literal gram size argument; 3 when absent. */
  private def gramSize(es: Seq[Expression]): Int = es.lift(1) match {
    case Some(Literal(v: Int, IntegerType)) => v
    case _ => 3
  }

  /** (min, max) of the gram hashes — the role contract of the
    * reference's (minhash, maxhash) tuple (not byte-compatible, the
    * cityHash64 policy); feeds tupleHammingDistance as CH does. */
  private def minMaxHash(grams: Expression): Expression = {
    val hashes = builtin("transform")(Seq(grams,
      lam1("__g3_x")(g => XxHash64(Seq(g), 42L))))
    CreateNamedStruct(Seq(
      Literal("_1"), builtin("array_min")(Seq(hashes)),
      Literal("_2"), builtin("array_max")(Seq(hashes))))
  }

  private def shingles(s: Expression, k: Int): Expression = {
    val toks = builtin("filter")(Seq(
      builtin("split")(Seq(s, Literal("\\s+"))),
      lam1("__g3_x")(t => GreaterThan(Length(t), Literal(0)))))
    WordNGramsExpr(toks, k)
  }

  private def uuidStringToNum: Builder = { es =>
    builtin("unhex")(Seq(builtin("replace")(Seq(es.head,
      Literal("-"), Literal("")))))
  }

  /** per-process stable id, the reference's per-server contract */
  private lazy val serverUuid = java.util.UUID.randomUUID().toString

  /** AES through Spark's aes_encrypt/aes_decrypt: CH mode strings
    * like 'aes-256-gcm' map to the Spark mode, with CH's iv/aad
    * argument order preserved. */
  private def aesMode(mode: String, fn: String): (String, String) = {
    val m = mode.toLowerCase
    val parts = m.split("-")
    require(parts.length == 3 && parts(0) == "aes",
      s"$fn: unsupported mode '$mode' (want aes-<len>-<ecb|cbc|gcm>)")
    parts(2) match {
      case "ecb" => ("ECB", "PKCS")
      case "cbc" => ("CBC", "PKCS")
      case "gcm" => ("GCM", "NONE")
      case other => throw new UnsupportedOperationException(
        s"$fn: unsupported AES chaining mode '$other'")
    }
  }

  def aliases: Seq[(String, Builder)] = Seq(
    // hashes
    "MD5"        -> builtin("md5"),
    "SHA256"     -> { es => builtin("sha2")(es :+ Literal(256)) },
    // exact: first 8 bytes of MD5, big-endian, as the unsigned value
    "halfMD5" -> { es =>
      val hex16 = Substring(builtin("md5")(Seq(Concat(es.map(e =>
        Cast(e, StringType))))), Literal(1), Literal(16))
      Cast(builtin("conv")(Seq(hex16, Literal(16), Literal(10))),
        DecimalType(20, 0)) },
    "cityHash64" -> builtin("xxhash64"), // same role, not byte-compatible
    "intHash32"  -> builtin("xxhash64"), // same role, not byte-compatible
    "intHash64"  -> builtin("xxhash64"),
    "sipHash64"         -> h64(0x5150),
    "sipHash128"        -> h128("sip128:"),
    "farmHash64"        -> h64(0xFA23),
    "farmFingerprint64" -> h64(0xFA24),
    "murmurHash2_32"    -> h32(0x3202),
    "murmurHash2_64"    -> h64(0x3212),
    "murmurHash3_32"    -> h32(0x3302),
    "murmurHash3_64"    -> h64(0x3312),
    "murmurHash3_128"   -> h128("mmh3-128:"),
    "xxHash32"          -> h32(0x8812),
    // exact: Spark's HiveHash IS the Hive/Java polynomial hash the
    // reference's hiveHash mirrors
    "hiveHash" -> { es => HiveHash(es) },
    // exact for BMP strings: Java String.hashCode — 31·h+c folded in
    // unsigned-mod-2^64 space, sign restored at the end
    "javaHash" -> { es =>
      val chars = builtin("split")(Seq(Cast(es.head, StringType),
        Literal("")))
      val acc = UnresolvedNamedLambdaVariable(Seq("__jh_acc"))
      val ch = UnresolvedNamedLambdaVariable(Seq("__jh_c"))
      val step = Pmod(Add(Multiply(acc, Literal(31L)),
        Cast(builtin("ascii")(Seq(ch)), LongType)), Literal(4294967296L))
      val unsigned = builtin("aggregate")(Seq(chars, Literal(0L),
        LambdaFunction(step, Seq(acc, ch))))
      Cast(If(GreaterThanOrEqual(unsigned, Literal(2147483648L)),
        Subtract(unsigned, Literal(4294967296L)), unsigned),
        IntegerType) },
    "jumpConsistentHash" -> { es =>
      si(IntegerType, "jumpConsistentHash", Seq(LongType, IntegerType),
        ChNumHelpers.getClass)(
        Seq(Cast(es(0), LongType), Cast(es(1), IntegerType))) },

    // near-duplicate fingerprints (the reference pairs them with
    // tupleHammingDistance)
    "ngramMinHash" -> { es =>
      minMaxHash(charGrams(es.head, gramSize(es))) },
    "ngramMinHashCaseInsensitive" -> { es =>
      minMaxHash(charGrams(Lower(es.head), gramSize(es))) },
    "wordShingleMinHash" -> { es =>
      minMaxHash(shingles(es.head, gramSize(es))) },
    "ngramSimHash" -> { es =>
      SimHash64(charGrams(es.head, gramSize(es))) },
    "ngramSimHashCaseInsensitive" -> { es =>
      SimHash64(charGrams(Lower(es.head), gramSize(es))) },
    "wordShingleSimHash" -> { es =>
      SimHash64(shingles(es.head, gramSize(es))) },
    // differing positions between two same-shape tuples; the struct
    // shape is taken from a literal struct argument when present,
    // else the fingerprint pair's (_1, _2)
    "tupleHammingDistance" -> { es =>
      val names: Seq[String] = es.collectFirst {
        case s: CreateNamedStruct => s.names.map(_.toString)
      }.getOrElse(Seq("_1", "_2"))
      names.map { f =>
        If(Not(EqualNullSafe(fld(es(0), f), fld(es(1), f))),
          Literal(1), Literal(0)): Expression
      }.reduce(Add(_, _)) },

    // encryption
    "encrypt" -> { es =>
      val (mode, pad) = aesMode(strLit(es(0), "encrypt", "mode"), "encrypt")
      val base = Seq(es(1), es(2), Literal(mode), Literal(pad))
      builtin("aes_encrypt")(
        if (es.size >= 4) base ++ es.drop(3) else base) },
    "decrypt" -> { es =>
      val (mode, pad) = aesMode(strLit(es(0), "decrypt", "mode"), "decrypt")
      val base = Seq(es(1), es(2), Literal(mode), Literal(pad))
      // aes_decrypt takes (input, key, mode, padding, aad) — no iv
      // argument (CBC/GCM ivs are read from the ciphertext prefix)
      builtin("aes_decrypt")(
        if (es.size >= 5) base :+ es(4) else base) },

    // UUID, ULID and snowflake ids
    "generateUUIDv4" -> builtin("uuid"),
    // v7 layout: 48-bit unix-millis prefix (query-constant now(), the
    // engine's statement clock), version/variant nibbles, random tail
    // from uuid()'s entropy
    "generateUUIDv7" -> { _ =>
      val ts = builtin("lpad")(Seq(
        builtin("hex")(Seq(builtin("unix_millis")(Seq(
          builtin("now")(Seq.empty))))),
        Literal(12), Literal("0")))
      val r = builtin("replace")(Seq(Cast(Uuid(), StringType),
        Literal("-"), Literal("")))
      Lower(Concat(Seq(
        Substring(ts, Literal(1), Literal(8)), Literal("-"),
        Substring(ts, Literal(9), Literal(4)), Literal("-7"),
        Substring(r, Literal(2), Literal(3)), Literal("-"),
        Substring(r, Literal(5), Literal(4)), Literal("-"),
        Substring(r, Literal(9), Literal(12))))) },
    "generateULID" -> { _ =>
      si(StringType, "generateULID", Seq.empty, deterministic = false)(Nil) },
    "serverUUID" -> { _ => Literal(serverUuid) },
    "toUUID" -> { es => Lower(es.head) },
    "UUIDStringToNum" -> uuidStringToNum,
    "UUIDToNum" -> uuidStringToNum,
    "UUIDNumToString" -> { es =>
      val h = Lower(builtin("hex")(Seq(es.head)))
      Concat(Seq(
        Substring(h, Literal(1), Literal(8)), Literal("-"),
        Substring(h, Literal(9), Literal(4)), Literal("-"),
        Substring(h, Literal(13), Literal(4)), Literal("-"),
        Substring(h, Literal(17), Literal(4)), Literal("-"),
        Substring(h, Literal(21), Literal(12)))) },
    // UUIDv7: first 48 bits are unix millis (RFC 9562)
    "UUIDv7ToDateTime" -> { es =>
      val hexHead = builtin("substring")(Seq(
        builtin("translate")(Seq(Cast(es.head, StringType),
          Literal("-"), Literal(""))),
        Literal(1), Literal(12)))
      builtin("timestamp_millis")(Seq(
        Cast(builtin("conv")(Seq(hexHead, Literal(16), Literal(10))),
          LongType)) ) },
    "ULIDStringToDateTime" -> { es =>
      builtin("timestamp_millis")(Seq(
        si(LongType, "ulidMillis", Seq(StringType))(es))) },
    // Twitter-epoch snowflake ids (CH snowflakeToDateTime contract)
    "snowflakeToDateTime" -> { es =>
      builtin("timestamp_millis")(Seq(Add(
        ShiftRight(Cast(es.head, LongType), Literal(22)),
        Literal(1288834974657L)))) },
    "dateTimeToSnowflake" -> { es =>
      ShiftLeft(Subtract(builtin("unix_millis")(Seq(es.head)),
        Literal(1288834974657L)), Literal(22)) },
    // Twitter-epoch snowflake id of an instant (inverse of the
    // registered snowflakeToDateTime): (millis − epoch) << 22
    "dateTimeToSnowflakeID" -> { es =>
      val ep = if (es.size > 1) Cast(es(1), LongType)
        else Literal(1288834974657L)
      builtin("shiftleft")(Seq(
        Subtract(builtin("unix_millis")(Seq(Cast(es(0), TimestampType))), ep),
        Literal(22))) }
  )
}
