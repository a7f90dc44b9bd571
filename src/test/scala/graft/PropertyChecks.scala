package graft

import graft.bm25.{Bm25Math, Bm25Params, Bm25Query, Embedder}
import graft.index.PostingCodec
import graft.text.{Bm25Tokenizer, FxHash, Transliterate}
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck properties over the pure (non-Spark) kernels — the
  * randomized mirror SURVEY.md §5 calls for, complementing the pinned
  * reference vectors: hashing internal consistency, posting-codec
  * round-trips, BM25 weight/idf shape, tokenizer/transliteration
  * invariants. sbt's built-in ScalaCheck framework runs these alongside
  * the ScalaTest suites.
  */
object PropertyChecks extends Properties("graft") {

  // ---------------------------------------------------------------- fxhash

  private val asciiStr = Gen.listOf(Gen.choose(0x20.toChar, 0x7e.toChar)).map(_.mkString)

  property("fxhash32 ASCII fast path == byte path") = Prop.forAll(asciiStr) { s =>
    FxHash.hash32(s) == FxHash.hash32Bytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  property("fxhash32u is the unsigned view of hash32") = Prop.forAll(asciiStr) { s =>
    FxHash.hash32u(s) == (FxHash.hash32(s) & 0xffffffffL)
  }

  // --------------------------------------------------------- posting codec

  private val sortedIds: Gen[Array[Long]] =
    Gen.listOf(Gen.chooseNum(0L, Long.MaxValue / 2)).map(_.sorted.toArray)

  property("delta+varbyte round-trips any sorted id list") = Prop.forAll(sortedIds) { ids =>
    PostingCodec.decodeDeltas(PostingCodec.encodeDeltas(ids), ids.length).sameElements(ids)
  }

  property("varbyte round-trips any non-negative int list") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(0, Int.MaxValue))) { xs =>
      val a = xs.toArray
      PostingCodec.decodeInts(PostingCodec.encodeInts(a), a.length).sameElements(a)
    }

  // ------------------------------------------------------------ BM25 shape

  private val params = Gen.zip(Gen.choose(0.1f, 3.0f), Gen.choose(0.0f, 1.0f),
    Gen.choose(1.0f, 1000.0f))

  property("tf weight is positive, <= k1+1, and non-decreasing in tf") =
    Prop.forAll(params, Gen.choose(1, 500), Gen.choose(1, 1000)) { case ((k1, b, avgdl), tf, dl) =>
      val e = new Embedder(Bm25Params(k1, b, avgdl), Bm25Tokenizer.default)
      val w = e.weight(tf, dl)
      w > 0.0f && w <= k1 + 1.0f + 1e-4f && e.weight(tf + 1, dl) >= w
    }

  property("idf is positive and non-increasing in df") =
    Prop.forAll(Gen.choose(1L, 1000000L)) { n =>
      Prop.forAll(Gen.choose(0L, n)) { df =>
        val v = Bm25Math.idf(n, df)
        v > 0.0f && (df == 0L || Bm25Math.idf(n, df - 1) >= v)
      }
    }

  // A query of up to 12 occurrences over 6 terms, terms 4 and 5 absent from
  // the corpus (df 0), and a weight per term, 0 for about a third of them.
  private val queryAndWeights: Gen[(Array[Long], Map[Long, Float])] = for {
    occ <- Gen.listOf(Gen.choose(0L, 5L)).map(_.take(12).toArray)
    ws <- Gen.listOfN(6, Gen.frequency(1 -> Gen.const(0.0f), 2 -> Gen.choose(0.01f, 2.2f)))
  } yield (occ, ws.zipWithIndex.map { case (w, t) => t.toLong -> w }.toMap)

  property("compiled query score == plain occurrence-order f32 fold, bit for bit") =
    Prop.forAll(queryAndWeights, Gen.choose(10L, 100000L)) { case ((occ, w), n) =>
      def df(t: Long): Long = if (t >= 4L) 0L else t + 1L
      val q = Bm25Query(occ, df, n)
      var plain = 0.0f
      occ.foreach(t => plain += Bm25Math.idf(n, df(t)) * (if (df(t) > 0L) w(t) else 0.0f))
      java.lang.Float.floatToRawIntBits(q.score(q.terms.map(w))) ==
        java.lang.Float.floatToRawIntBits(plain)
    }

  // ------------------------------------------------- tokenizer invariants

  // Text mixing ASCII, accents, symbols, emoji, and CJK — the shapes the
  // transliterator and UAX#29 splitter must stay total over.
  private val mixedText: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.choose(0x20.toChar, 0x7e.toChar).map(_.toString),
    2 -> Gen.oneOf("é", "ß", "ü", "Å", "°", "π", "я", "中", "文", "🍕", " ", "\t", "\n"),
  )).map(_.mkString)

  property("transliteration output is pure ASCII") = Prop.forAll(mixedText) { s =>
    Transliterate(s).forall(_ < 0x80)
  }

  property("tokens are nonempty and lowercase") = Prop.forAll(mixedText) { s =>
    Bm25Tokenizer.default.tokenize(s)
      .forall(t => t.nonEmpty && t == t.toLowerCase(java.util.Locale.ROOT))
  }

  // Stopword-freedom holds PRE-stemming (the pipeline filters before it
  // stems; a stem may coincidentally equal a stopword — e.g. "ons" → "on").
  property("pre-stem tokens are stopword-free") = Prop.forAll(mixedText) { s =>
    val stops = graft.text.Stopwords.forLanguage(graft.text.Language.English)
      .map(Transliterate(_))
    Bm25Tokenizer(stemming = false).tokenize(s).forall(t => !stops.contains(t))
  }

  property("no-stem tokenization is idempotent on its own output") =
    Prop.forAll(mixedText) { s =>
      val tok = Bm25Tokenizer(stemming = false)
      val once = tok.tokenize(s)
      tok.tokenize(once.mkString(" ")).sameElements(once)
    }
}
