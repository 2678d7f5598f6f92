package varbench

import java.nio.charset.StandardCharsets.UTF_8

/** JSON document model the generators build and the checkers compare
  * against. Numbers keep the text they were written with: the checker
  * compares them numerically, never by formatting.
  */
sealed trait J
final case class JObj(fields: Vector[(String, J)]) extends J {
  def get(k: String): Option[J] = fields.collectFirst { case (`k`, v) => v }
}
final case class JArr(items: Vector[J]) extends J
final case class JStr(s: String) extends J
final case class JInt(v: BigInt) extends J
final case class JNum(text: String) extends J { def toDouble: Double = text.toDouble }
final case class JBool(b: Boolean) extends J
case object JNull extends J

object J {
  /** Walk a dotted path with `[i]` indexes (`user.geo.city`, `items[0].qty`). */
  def at(j: J, path: String): Option[J] =
    path.split('.').foldLeft(Option(j)) { (cur, step) =>
      val (key, idx) = step.indexOf('[') match {
        case -1 => (step, None)
        case b => (step.substring(0, b), Some(step.substring(b + 1, step.length - 1).toInt))
      }
      cur.flatMap {
        case o: JObj => o.get(key)
        case _ => None
      }.flatMap { v =>
        idx match {
          case None => Some(v)
          case Some(i) => v match {
            case JArr(items) if i < items.length => Some(items(i))
            case _ => None
          }
        }
      }
    }

  def str(j: J, path: String): Option[String] = at(j, path).collect { case JStr(s) => s }
  def long(j: J, path: String): Option[Long] = at(j, path).collect { case JInt(v) => v.toLong }
  def num(j: J, path: String): Option[Double] = at(j, path).collect {
    case n: JNum => n.toDouble
    case JInt(v) => v.toDouble
  }

  /** Serialize. `asciiOnly` writes every non-ASCII char as a `\\uXXXX`
    * escape (surrogate pairs for astral chars), the way many log
    * shippers do.
    */
  def write(j: J, sb: java.lang.StringBuilder, asciiOnly: Boolean): Unit = j match {
    case JObj(fs) =>
      sb.append('{')
      var first = true
      fs.foreach { case (k, v) =>
        if (!first) sb.append(", ")
        first = false
        writeStr(k, sb, asciiOnly); sb.append(": "); write(v, sb, asciiOnly)
      }
      sb.append('}')
    case JArr(items) =>
      sb.append('[')
      items.indices.foreach { i =>
        if (i > 0) sb.append(", ")
        write(items(i), sb, asciiOnly)
      }
      sb.append(']')
    case JStr(s) => writeStr(s, sb, asciiOnly)
    case JInt(v) => sb.append(v.toString)
    case JNum(t) => sb.append(t)
    case JBool(b) => sb.append(b)
    case JNull => sb.append("null")
  }

  def writeStr(s: String, sb: java.lang.StringBuilder, asciiOnly: Boolean): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\t' => sb.append("\\t")
        case _ if c < 0x20 || (asciiOnly && c > 0x7e) =>
          sb.append("\\u").append(String.format(java.util.Locale.ROOT, "%04x", Int.box(c.toInt)))
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  def text(j: J, asciiOnly: Boolean = false): String = {
    val sb = new java.lang.StringBuilder
    write(j, sb, asciiOnly)
    sb.toString
  }

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Compare a generator tree with JSON text some component produced.
    * Object field order is ignored; numbers compare by value (integers
    * exactly, fractions as IEEE doubles). Returns the first difference.
    */
  def diff(expected: J, json: String): Option[String] =
    try diffNode(expected, mapper.readTree(json), "$")
    catch { case e: Exception => Some(s"unparseable JSON: ${e.getMessage}") }

  private def diffNode(e: J, n: com.fasterxml.jackson.databind.JsonNode, at: String): Option[String] = {
    def bad = Some(s"$at: expected ${text(e)} got $n")
    e match {
      case JObj(fs) =>
        if (!n.isObject || n.size != fs.size) bad
        else fs.iterator.map { case (k, v) =>
          if (!n.has(k)) Some(s"$at: missing key $k") else diffNode(v, n.get(k), s"$at.$k")
        }.collectFirst { case Some(d) => d }
      case JArr(items) =>
        if (!n.isArray || n.size != items.size) bad
        else items.indices.iterator.map(i => diffNode(items(i), n.get(i), s"$at[$i]"))
          .collectFirst { case Some(d) => d }
      case JStr(s) => if (n.isTextual && n.textValue == s) None else bad
      case JInt(v) => if (n.isIntegralNumber && BigInt(n.bigIntegerValue) == v) None else bad
      case x: JNum => if (n.isNumber && n.doubleValue == x.toDouble) None else bad
      case JBool(b) => if (n.isBoolean && n.booleanValue == b) None else bad
      case JNull => if (n.isNull) None else bad
    }
  }
}

/** One generated document: its tree (ground truth) and its exact text. */
final case class Doc(id: Long, tree: J, json: String) {
  def jsonBytes: Long = json.getBytes(UTF_8).length.toLong
}

/** Seeded generators. Every draw goes through one `java.util.Random`
  * per generator call, so the same seed yields byte-identical docs.
  */
object Gen {
  val Levels: Array[String] = Array("debug", "info", "warn", "error")
  val Svcs: Array[String] = Array.tabulate(24)(i => f"svc-$i%02d")
  val Countries: Array[String] = Array("DE", "FR", "JP", "BR", "US", "IN", "IS", "PL")
  val Cities: Array[String] = Array("Berlin", "Zürich", "München", "東京", "São Paulo",
    "Montréal", "Kraków", "Reykjavík", "Austin", "Pune", "Łódź", "Ørsted")
  val Names: Array[String] = Array("ana", "bo", "chen", "dmitri", "émile", "fatma",
    "gökhan", "hiro", "ines", "jörg", "kofi", "léa", "małgorzata", "nuño")
  val Users = 5000
  val Segments: Array[String] = Array("free", "trial", "pro", "team", "edu", "gov", "oem", "internal")

  private def pick[A](r: java.util.Random, xs: Array[A]): A = xs(r.nextInt(xs.length))
  private def cents(r: java.util.Random, max: Int): JNum = {
    val c = r.nextInt(max * 100)
    JNum(s"${c / 100}.${"%02d".formatLocal(java.util.Locale.ROOT, c % 100)}")
  }
  private def sci(r: java.util.Random): JNum = {
    val m = 1000 + r.nextInt(9000)
    JNum(s"${m / 1000}.${m % 1000}e-${1 + r.nextInt(5)}")
  }

  /** A value whose variant type varies doc to doc (the typeof workload). */
  private def mixed(r: java.util.Random): J = r.nextInt(10) match {
    case 0 => JInt(r.nextInt(100))
    case 1 => JInt(1000 + r.nextInt(20000))
    case 2 => JInt(100000 + r.nextInt(1000000))
    case 3 => JInt(5000000000L + r.nextInt(1000000))
    case 4 => sci(r)
    case 5 => JStr(pick(r, Names))
    case 6 => JBool(r.nextBoolean())
    case 7 => JNull
    case 8 => JArr(Vector(JInt(r.nextInt(9)), JStr("x")))
    case _ => JObj(Vector("n" -> JInt(r.nextInt(9))))
  }

  /** Variant type name the codec assigns to a generated scalar. */
  def typeName(j: J): String = j match {
    case JInt(v) =>
      if (v >= -128 && v <= 127) "tinyint"
      else if (v >= -32768 && v <= 32767) "smallint"
      else if (v.isValidInt) "int"
      else if (v.isValidLong) "bigint"
      else "decimal(38,0)"
    case _: JNum => "double"
    case _: JStr => "string"
    case _: JBool => "boolean"
    case JNull => "null"
    case _: JArr => "array"
    case _: JObj => "object"
  }

  /** Log-style docs for `ingest` and `stored_query`: four sources, each
    * with its own key set, arriving in runs the way one shipper's batch
    * does. Nested objects and arrays; ints, doubles, >18-digit integers
    * (variant decimals), bools, nulls, ASCII and non-ASCII strings.
    */
  def logDocs(seed: Long, n: Int): Array[Doc] = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 1)
    var src = 0
    var left = 0
    var ts = 1700000000000L + r.nextInt(1000000)
    Array.tabulate(n) { i =>
      if (left == 0) { src = r.nextInt(4); left = 20 + r.nextInt(180) }
      left -= 1
      ts += r.nextInt(2000)
      val user = r.nextInt(Users)
      val common = Vector[(String, J)](
        "id" -> JInt(i),
        "ts" -> JInt(ts),
        "level" -> JStr(Levels(math.min(3, r.nextInt(10) / 3))),
        "svc" -> JStr(pick(r, Svcs)),
        "user" -> JObj(Vector(
          "id" -> JInt(user),
          "name" -> JStr(Names(user % Names.length) + user),
          "geo" -> JObj(Vector(
            "country" -> JStr(Countries(user % Countries.length)),
            "city" -> JStr(pick(r, Cities)))))),
        "latency" -> cents(r, 2000),
        "score" -> sci(r),
        "ok" -> JBool(r.nextInt(10) > 0),
        "tags" -> JArr(Vector.fill(r.nextInt(4))(JStr("t" + r.nextInt(30)))),
        "val" -> mixed(r))
      val extra: Vector[(String, J)] = src match {
        case 0 => Vector("http" -> JObj(Vector(
          "status" -> JInt(Vector(200, 200, 200, 201, 204, 301, 404, 500, 503)(r.nextInt(9))),
          "path" -> JStr(s"/api/v${1 + r.nextInt(3)}/${pick(r, Svcs)}/${r.nextInt(1000)}"),
          "bytes" -> JInt(r.nextInt(1 << 20)))))
        case 1 => Vector("db" -> JObj(Vector(
          "rows" -> JInt(r.nextInt(100000)),
          "table" -> JStr("t_" + pick(r, Svcs)),
          "ms" -> sci(r))), "note" -> JNull)
        case 2 => Vector("items" -> JArr(Vector.fill(1 + r.nextInt(4))(JObj(Vector(
          "sku" -> JStr(f"sku-${r.nextInt(500)}%03d"),
          "qty" -> JInt(1 + r.nextInt(9)),
          "price" -> cents(r, 300))))),
          "order" -> JInt(BigInt("1" + "%020d".formatLocal(java.util.Locale.ROOT, r.nextLong() & Long.MaxValue))))
        case _ => Vector("auth" -> JObj(Vector(
          "method" -> JStr(Vector("password", "sso", "token", "passkey")(r.nextInt(4))),
          "mfa" -> JBool(r.nextBoolean()),
          "failures" -> JInt(r.nextInt(4)))), "items" -> JArr(Vector.empty))
      }
      val tree = JObj(common ++ extra)
      Doc(i, tree, J.text(tree))
    }
  }

  /** The `users` dimension the stored-query join reads. */
  def users(seed: Long): Array[(Long, String)] = {
    val r = new java.util.Random(seed ^ 0x5EED5EEDL)
    Array.tabulate(Users)(u => (u.toLong, pick(r, Segments)))
  }

  val Vocab = 256
  def vocabKey(i: Int): String = f"f$i%03d"

  /** Raw JSON for `raw_query`, built to defeat the codec's shortcuts:
    * every doc draws its key set from a 256-key vocabulary and shuffles
    * its field order (no two neighbouring rows share a shape); 2% carry
    * >18-digit integers and escaped/surrogate strings; 1% are
    * malformed. Malformed docs have `tree == JNull`.
    */
  def rawDocs(seed: Long, n: Int): Array[Doc] = {
    val r = new java.util.Random(seed * 0x2545F4914F6CDD1DL + 7)
    Array.tabulate(n) { i =>
      if (i % 100 == 37) {
        val body = s"""{"id": $i, "grp": "g${r.nextInt(16)}", "amt": """
        val broken = r.nextInt(3) match {
          case 0 => body
          case 1 => body + "1.5,, }"
          case _ => body.replace("\"grp\"", "grp")
        }
        Doc(i, JNull, broken)
      } else {
        val fields = scala.collection.mutable.ArrayBuffer[(String, J)](
          "id" -> JInt(i),
          "grp" -> JStr("g" + r.nextInt(16)),
          "amt" -> cents(r, 500),
          "n" -> JObj(Vector("x" -> JInt(r.nextInt(1000)), "y" -> JStr(pick(r, Cities)))),
          "mix" -> mixed(r))
        val keys = scala.collection.mutable.LinkedHashSet[Int]()
        val want = 4 + r.nextInt(5)
        while (keys.size < want) keys += r.nextInt(Vocab)
        keys.foreach { k =>
          fields += vocabKey(k) -> (if (k % 2 == 0) JInt(r.nextInt(10000)) else JStr(pick(r, Names)))
        }
        if (i % 50 == 11) {
          fields += "big" -> JInt(BigInt("9" + "%019d".formatLocal(java.util.Locale.ROOT, r.nextLong() & Long.MaxValue)))
          fields += "s" -> JStr(s"q\"uote\\back\nnl é ${pick(r, Cities)} 😀 ${r.nextInt(100)}")
        }
        // Fisher-Yates over the field order: no shared shape between rows
        var k = fields.length - 1
        while (k > 0) {
          val j = r.nextInt(k + 1)
          val t = fields(k); fields(k) = fields(j); fields(j) = t
          k -= 1
        }
        val tree = JObj(fields.toVector)
        Doc(i, tree, J.text(tree, asciiOnly = i % 50 == 11))
      }
    }
  }
}
