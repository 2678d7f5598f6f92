package graft.tools

import graft.variant.VariantJsonCodec

/** Heavyweight dev fuzz of the byte-level JSON fast path: N random
  * documents (defaults 200k) across an adversarial generator — deep
  * nesting, every escape form, surrogate pairs, multibyte UTF-8, big
  * numbers, duplicate keys, whitespace soup — comparing the lexer's
  * accept/miss decision and output bytes against the Jackson path.
  * FastJsonSpec carries a 5k-doc version of this permanently; this
  * tool is the pre-commit deep soak. Run:
  *   sbt "runMain graft.tools.FastJsonFuzz [n] [seed]"
  */
object FastJsonFuzz {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 200000
    val seed = if (args.length > 1) args(1).toLong else 20260814L
    val rnd = new scala.util.Random(seed)
    val keys = Seq("a", "b", "cc", "dé", "中文", "e_f", "", "K",
      "long_key_name_x", "😀")

    def genString(): String = {
      val sb = new StringBuilder("\"")
      (0 until rnd.nextInt(20)).foreach { _ =>
        rnd.nextInt(12) match {
          case 0 => sb.append("\\n")
          case 1 => sb.append("\\\"")
          case 2 => sb.append("\\\\")
          case 3 => sb.append("\\u00e9")
          case 4 => sb.append("\\ud83d\\ude00") // escaped surrogate pair
          case 5 => sb.append("é")
          case 6 => sb.append("中")
          case 7 => sb.append("😀")   // raw astral
          case 8 => sb.append("\\t")
          case _ => sb.append(('a' + rnd.nextInt(26)).toChar)
        }
      }
      sb.append("\"").toString
    }

    def genNumber(): String = rnd.nextInt(8) match {
      case 0 => rnd.nextInt(10).toString
      case 1 => rnd.nextLong().toString // up to 19 digits w/ sign
      case 2 => s"${rnd.nextInt(1000)}.${rnd.nextInt(100000)}"
      case 3 => s"-${rnd.nextInt(100)}.${rnd.nextInt(10)}e${rnd.nextInt(30)}"
      case 4 => s"${rnd.nextInt(10)}E-${rnd.nextInt(30)}"
      case 5 => "123456789012345678"  // 18 digits
      case 6 => "1234567890123456789" // 19 digits: BigInteger arm, int64
      case _ => "0"
    }

    def gen(depth: Int): String = rnd.nextInt(if (depth > 5) 6 else 8) match {
      case 0 | 1 => genNumber()
      case 2 => genString()
      case 3 => Seq("true", "false", "null")(rnd.nextInt(3))
      case 4 => "null"
      case 5 => genNumber()
      case 6 =>
        (0 until rnd.nextInt(4)).map(_ => gen(depth + 1))
          .mkString("[", if (rnd.nextBoolean()) "," else " , ", "]")
      case _ =>
        (0 until rnd.nextInt(5)).map { _ =>
          "\"" + keys(rnd.nextInt(keys.length)).replace("\\", "\\\\")
            .replace("\"", "\\\"") + "\"" +
            (if (rnd.nextBoolean()) ":" else " : ") + gen(depth + 1)
        }.mkString("{", ",", "}")
    }

    var hits = 0L
    var misses = 0L
    var nullDocs = 0L
    var bad = 0L
    (1 to n).foreach { i =>
      val doc = (if (rnd.nextInt(10) == 0) "  " else "") + gen(0) +
        (if (rnd.nextInt(10) == 0) "\n " else "")
      val bytes = doc.getBytes("UTF-8")
      val fast = VariantJsonCodec.fastOnlyForTest(bytes)
      fast match {
        case Left(()) => misses += 1
        case Right(f) =>
          hits += 1
          val j = VariantJsonCodec.jacksonFromJsonBytes(bytes, 0, bytes.length)
          if (f == null || j == null) {
            nullDocs += 1
            if ((f == null) != (j == null)) {
              bad += 1; println(s"NULL-DOC DISAGREEMENT: $doc")
            }
          } else if (!java.util.Arrays.equals(f._1, j._1) ||
            !java.util.Arrays.equals(f._2, j._2)) {
            bad += 1
            println(s"BYTE MISMATCH at doc $i: ${doc.take(200)}")
          }
      }
    }
    println(s"[fuzz] $n docs: $hits hits, $misses misses " +
      f"(hit rate ${hits.toDouble / n}%.3f), $nullDocs null-docs, $bad disagreements")
    if (bad > 0) sys.exit(1)
  }
}
