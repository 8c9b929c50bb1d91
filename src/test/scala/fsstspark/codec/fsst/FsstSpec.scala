package fsstspark.codec.fsst

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Pure-JVM codec tests replicating the reference's test strategy
  * (SURVEY.md §5): roundtrip bit-identity, determinism, serialization
  * round-trips, edge cases, golden corpora, seeded fuzz.
  */
class FsstSpec extends AnyFunSuite {

  private def roundtrip(train: Seq[Array[Byte]], data: Seq[Array[Byte]]): Unit = {
    val table = FsstTrainer.train(train.toArray)
    val enc = table.newEncoder()
    val dec = SymbolTable.deserialize(table.serialize()).newDecoder()
    data.foreach { in =>
      val compressed = enc.encodeAll(in)
      val out = dec.decodeAll(compressed)
      assert(java.util.Arrays.equals(out, in),
        s"roundtrip mismatch for input of ${in.length} bytes")
    }
  }

  /** The reference corpus `name`, line-split, wherever it is present. */
  private def lines(name: String): Option[Array[Array[Byte]]] =
    TestCorpora.reference(name).map(_.split("\n", -1).map(_.getBytes(UTF_8)))

  private lazy val prose: Array[Array[Byte]] = TestCorpora.prose.map(_.getBytes(UTF_8))

  test("roundtrip: multi-input training") {
    val ins = Seq("hello world", "hello there", "world peace", "hello world peace")
      .map(_.getBytes(UTF_8))
    roundtrip(ins, ins)
  }

  test("roundtrip: empty string, single byte, zeros, repeats (edge cases)") {
    val ins = Seq(
      Array.empty[Byte],
      Array('x'.toByte),
      Array.fill(100)('a'.toByte),
      Array.fill[Byte](5)(0),
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8),
      "日本語テキスト with mixed ascii".getBytes(UTF_8)
    )
    roundtrip(ins, ins)
  }

  test("roundtrip: zero-byte symbols ({0,1,2,3,4,0} then {4,0})") {
    val train = Seq(Array[Byte](0, 1, 2, 3, 4, 0))
    roundtrip(train, Seq(Array[Byte](4, 0), Array[Byte](0, 0, 0), train.head))
  }

  test("roundtrip: chunk boundary sizes 511/512/1023/1024/2047") {
    val rnd = new scala.util.Random(7)
    val alphabet = "the quick brown fox jumps over the lazy dog 0123456789 ".getBytes(UTF_8)
    def mk(n: Int) = Array.tabulate[Byte](n)(i => alphabet(rnd.nextInt(alphabet.length)))
    val data = Seq(511, 512, 1023, 1024, 2047, 4096).map(mk)
    roundtrip(data, data)
  }

  test("roundtrip: empty training set → all-escape encoding still correct") {
    val table = FsstTrainer.train(Array.empty[Array[Byte]])
    assert(table.nSymbols == 0)
    val enc = table.newEncoder()
    val dec = table.newDecoder()
    val in = "An English sentence that must survive with zero learned symbols.".getBytes(UTF_8)
    val compressed = enc.encodeAll(in)
    assert(compressed.length == 2 * in.length) // every byte escapes
    assert(java.util.Arrays.equals(dec.decodeAll(compressed), in))
  }

  test("symbol-limit stress: 300 distinct repetitive inputs") {
    val ins = (0 until 300).map(i => s"prefix_${i}_token_${i % 7}_suffix".getBytes(UTF_8))
    roundtrip(ins, ins)
    val t = FsstTrainer.train(ins.toArray)
    assert(t.nSymbols <= 255)
  }

  test("compression sanity: repetitive input reaches ratio < 0.9") {
    val in = ("abcabcabcabc" * 200).getBytes(UTF_8)
    val table = FsstTrainer.train(Array(in))
    val compressed = table.newEncoder().encodeAll(in)
    val ratio = compressed.length.toDouble / in.length
    assert(ratio < 0.9, s"ratio $ratio")
  }

  test("compression sanity: 2-byte + 7-byte token mix strictly compresses") {
    val ins = (Seq.fill(200)("ab") ++ Seq.fill(50)("TOKEN!!")).map(_.getBytes(UTF_8))
    val table = FsstTrainer.train(ins.toArray)
    val enc = table.newEncoder()
    val totalIn = ins.map(_.length).sum
    val totalOut = ins.map(enc.encodeAll(_).length).sum
    assert(totalOut < totalIn, s"$totalOut !< $totalIn")
    roundtrip(ins, ins)
  }

  test("determinism: same inputs → identical serialized tables and ciphertext") {
    val ins = (0 until 50).map(i => s"http://example-$i.com/path/a/b?q=$i").map(_.getBytes(UTF_8))
    val t1 = FsstTrainer.train(ins.toArray)
    val t2 = FsstTrainer.train(ins.toArray)
    assert(java.util.Arrays.equals(t1.serialize(), t2.serialize()))
    val e1 = t1.newEncoder(); val e2 = t2.newEncoder()
    ins.foreach { in =>
      assert(java.util.Arrays.equals(e1.encodeAll(in), e2.encodeAll(in)))
    }
  }

  test("determinism: equal strings compress equal") {
    val ins = Seq("aaa bbb ccc", "ddd eee fff", "aaa bbb ccc").map(_.getBytes(UTF_8))
    val enc = FsstTrainer.train(ins.toArray).newEncoder()
    assert(java.util.Arrays.equals(enc.encodeAll(ins(0)), enc.encodeAll(ins(2))))
  }

  test("serialization: serialize→deserialize→serialize is byte-identical; re-encoding identical") {
    val ins = (0 until 100).map(i => s"[2024-01-0${i % 9 + 1}] INFO service started id=$i").map(_.getBytes(UTF_8))
    val t = FsstTrainer.train(ins.toArray)
    val b1 = t.serialize()
    val t2 = SymbolTable.deserialize(b1)
    val b2 = t2.serialize()
    assert(java.util.Arrays.equals(b1, b2))
    assert(t2.nSymbols == t.nSymbols && t2.suffixLim == t.suffixLim)
    val e1 = t.newEncoder(); val e2 = t2.newEncoder()
    ins.foreach(in => assert(java.util.Arrays.equals(e1.encodeAll(in), e2.encodeAll(in))))
  }

  test("golden corpora: line-split roundtrip over reference testdata") {
    // every in-repo corpus, then each reference corpus that is present
    val corpora: Seq[(String, Option[Array[Array[Byte]]])] =
      TestCorpora.all.map { case (name, ls) => name -> Some(ls.map(_.getBytes(UTF_8))) } ++
        Seq(
          "art_of_war.txt",
          "en_mobydick.txt",
          "zh_tao_te_ching_en.txt",
          "logs_apache_2k.log",
          "logs_hdfs_2k.log"
        ).map(name => name -> lines(name))
    var tested = 0
    corpora.foreach { case (path, present) =>
      present.foreach { ls =>
        val table = FsstTrainer.train(ls)
        val enc = table.newEncoder()
        val dec = table.newDecoder()
        var in = 0L; var out = 0L
        ls.foreach { l =>
          val c = enc.encodeAll(l)
          in += l.length; out += c.length
          assert(java.util.Arrays.equals(dec.decodeAll(c), l))
        }
        assert(out < in, s"$path did not compress: $out >= $in")
        tested += 1
      }
    }
    assert(tested >= 3, "expected at least 3 corpora present")
  }

  test("table size: 2-8 KB serialized for text corpora") {
    (prose +: lines("art_of_war.txt").toSeq).foreach { ls =>
      val b = FsstTrainer.train(ls).serialize()
      assert(b.length >= 16 && b.length <= 8192, s"table ${b.length} B")
    }
  }

  test("fuzz: arbitrary byte-array roundtrip (incl. 0x00/0xFF-heavy)") {
    val rnd = new scala.util.Random(20260816L)
    val alphabets: Seq[Int => Byte] = Seq(
      _ => rnd.nextInt(256).toByte, // uniform bytes
      _ => Seq(0, 255, 'a'.toInt)(rnd.nextInt(3)).toByte, // escape-stress
      _ => Seq('a'.toInt, 'b'.toInt)(rnd.nextInt(2)).toByte // tiny alphabet
    )
    for (round <- 0 until 60) {
      val gen = alphabets(round % alphabets.length)
      val ins = (0 until 5).map(_ => Array.tabulate[Byte](rnd.nextInt(600))(gen))
      roundtrip(ins, ins)
    }
  }

  test("fuzz: decoder never throws on malformed/hostile input") {
    val table = FsstTrainer.train(Array("hello world hello world".getBytes(UTF_8)))
    val dec = table.newDecoder()
    val rnd = new scala.util.Random(99L)
    for (_ <- 0 until 500) {
      val junk = Array.tabulate[Byte](rnd.nextInt(400))(_ => rnd.nextInt(256).toByte)
      dec.decodeAll(junk) // must not throw
    }
    // truncated escape at EOF
    dec.decodeAll(Array(255.toByte))
    ()
  }

  test("finalize layout: code ranges are length-partitioned as documented") {
    (prose +: lines("art_of_war.txt").toSeq).foreach { ls =>
      val t = FsstTrainer.train(ls)
      // [0..suffixLim) are 2-byte; 1-byte symbols occupy the top of the range
      (0 until t.suffixLim).foreach(c => assert(t.symLen(c) == 2))
      val bl = t.byteLim
      (bl until t.nSymbols).foreach(c => assert(t.symLen(c) == 1))
      // 3..8 byte symbols are sorted by length between the 2B block and byteLim
      val mid = (t.suffixLim until bl).map(t.symLen(_).toInt)
      val non2 = mid.filter(_ != 2)
      assert(non2 == non2.sorted)
    }
  }
}
