package graft.ops

import graft.SparkSpec
import graft.functions.PortableHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("preferencePairs: max-margin pairing, margins monotone, no doc reused per side") {
    // 6 docs per lang with clearly spread quality (distinct-token
    // ratio varies); margin(k) = q(k) - q(n+1-k) is non-increasing
    val d = (0L until 12L).map { i =>
      val lang = if (i < 6) "en" else "es"
      val distinct = (i % 6 + 1).toInt
      val toks = (1 to 10).map(j => s"w${j % distinct}").mkString(" ")
      (i, toks, lang)
    }.toDF("doc_id", "text", "lang")
    // nShards = 2 so the 6-doc-per-lang fixture still lands >=2 docs
    // in some shard (pigeonhole); margins are monotone PER SHARD —
    // the executed (lang, hash-bucket) plan's contract
    val r = TextOps.preferencePairs(d, nShards = 2).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getAs[Long]("margin_micro") > 0L)
      assert(x.getAs[Long]("chosen_q_micro") > x.getAs[Long]("rejected_q_micro"))
    }
    r.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("chosen_id")).distinct.length === rows.length)
      assert(rows.map(_.getAs[Long]("rejected_id")).distinct.length === rows.length)
    }
    r.groupBy(x => (x.getAs[String]("lang"), x.getAs[Long]("bucket")))
      .foreach { case (_, rows) =>
        val margins = rows.sortBy(_.getAs[Long]("pair_idx")).map(_.getAs[Long]("margin_micro"))
        assert(margins.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
          "rank k vs n_shard+1-k pairing makes margins non-increasing per shard")
      }
    // chosen and rejected never overlap within a lang
    r.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      val c = rows.map(_.getAs[Long]("chosen_id")).toSet
      val j = rows.map(_.getAs[Long]("rejected_id")).toSet
      assert(c.intersect(j).isEmpty)
    }
  }

  test("curriculumOrder: stages monotone in grade, ties stay together, quartiles exact") {
    // 8 docs whose syllable densities spread the FK grade over 8
    // distinct values -> exact 2/2/2/2 quartiles
    val d = (0L until 8L).map { i =>
      val hard = "organization " * (i + 1).toInt
      val easy = "cat sat mat. " * (8 - i).toInt
      (i, (hard + easy).trim)
    }.toDF("doc_id", "text")
    val r = TextOps.curriculumOrder(d).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("grade_micro"),
        x.getAs[Long]("stage"))).sortBy(_._2)
    assert(r.length === 8)
    assert(r.map(_._2).distinct.length === 8, "fixture grades must spread")
    assert(r.map(_._3).toSeq === Seq(0L, 0L, 1L, 1L, 2L, 2L, 3L, 3L),
      "8 distinct grades cut into exact 2/2/2/2 quartile stages")
    // monotone: sorting by grade never decreases the stage
    assert(r.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("ictPairs: query+context partition the doc; short docs emit no row") {
    val text = (1 to 12).map(i => s"t$i").mkString(" ")
    val d = Seq((0L, text), (1L, "too short for a window")).toDF("doc_id", "text")
    val r = TextOps.ictPairs(d, w = 8).collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSet === Set(0L),
      "a doc with <= w+1 tokens leaves no context and must drop")
    val row = r.head
    val qs = row.getAs[Long]("q_start").toInt
    val q = row.getAs[String]("query_text").split(" ").toSeq
    val c = row.getAs[String]("context_text").split(" ").filter(_.nonEmpty).toSeq
    assert(row.getAs[Long]("n_tokens") === 12L)
    assert(q.length === 8 && c.length === 4)
    val toks = text.split(" ").toSeq
    assert(q === toks.slice(qs, qs + 8), "the query IS the window at q_start")
    assert(c === toks.take(qs) ++ toks.drop(qs + 8), "the context is the remainder in order")
  }

  test("fimTransform: PSM segments partition the doc at the derived cuts") {
    val text = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = Seq((0L, text)).toDF("doc_id", "text")
    val row = TextOps.fimTransform(d).head()
    val (c1, c2) = (row.getAs[Long]("cut1").toInt, row.getAs[Long]("cut2").toInt)
    assert(c1 <= c2 && c2 <= 10)
    val psm = row.getAs[String]("psm_text")
    val pat = "^<PRE> (.*?) <SUF> (.*?) <MID> (.*)$".r
    val pat(pre, suf, mid) = psm
    val toks = text.split(" ").toSeq
    def seg(s: String) = s.trim.split(" ").filter(_.nonEmpty).toSeq
    assert(seg(pre) === toks.take(c1))
    assert(seg(mid) === toks.slice(c1, c2))
    assert(seg(suf) === toks.drop(c2))
  }

  test("spanCorruption: sentinels consistent, masked+kept partition the doc") {
    val d = (0L until 8L).map(i =>
      (i, (1 to 40).map(j => s"x${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val rows = TextOps.spanCorruption(d).collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val masked = r.getAs[Long]("n_masked")
      val spans = r.getAs[Long]("n_spans")
      assert(n === 40L)
      assert(masked <= n && spans <= masked)
      val inToks = r.getAs[String]("input_text").split(" ").filter(_.nonEmpty)
      val tgToks = r.getAs[String]("target_text").split(" ").filter(_.nonEmpty)
      val inSent = inToks.count(_.startsWith("<X_"))
      val tgSent = tgToks.count(_.startsWith("<X_"))
      assert(inSent === spans && tgSent === spans,
        "one sentinel per run on both sides")
      // kept input tokens + masked target tokens = the whole doc
      assert((inToks.length - inSent) + (tgToks.length - tgSent) === 40)
      if (spans === 0L) {
        assert(r.getAs[String]("target_text") === "")
        assert(inToks.length === 40)
      }
    }
    // determinism across invocations
    val again = TextOps.spanCorruption(d).collect()
    assert(rows.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("tokenCounts: whitespace vs BPE-ish census") {
    val r = TextOps.tokenCounts(Seq((0L, "ab 12 cd!")).toDF("doc_id", "text")).head()
    assert(r.getAs[Long]("n_ws_tokens") === 3L)
    assert(r.getAs[Long]("n_bpe_tokens") === 4L) // ab | 12 | cd | !
    assert(r.getAs[Long]("n_chars_measured") === 9L)
  }

  test("qualityScore bounded in (0, 1]; stopword-heavy text scores lower") {
    val docs = Seq(
      (0L, "the a of the a of the a of the"),
      (1L, "catalyst tungsten codegen shuffle partition broadcast")
    ).toDF("doc_id", "text")
    val q = TextOps.qualityScore(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality")).toMap
    assert(q.values.forall(v => v > 0 && v <= 1))
    assert(q(1L) > q(0L))
  }

  test("langId votes on marker tokens with fixed precedence; no markers → und") {
    val docs = Seq(
      (0L, "the cat and the dog is here"),
      (1L, "el gato y la casa de los perros"),
      (2L, "der hund und die katze ist"),
      (3L, "zzz qqq www")
    ).toDF("doc_id", "text")
    val p = TextOps.langId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(p === Map(0L -> "en", 1L -> "es", 2L -> "de", 3L -> "und"))
  }

  test("redactPii counts and scrubs emails and phone numbers") {
    val docs = Seq(
      (0L, "mail me at jane.doe+x@corp.example.org or call +1 415 555-0199 thanks"),
      (1L, "no pii here at all")
    ).toDF("doc_id", "text")
    val r = TextOps.redactPii(docs).collect().map(x =>
      x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(0L) === ((1L, 1L)))
    assert(r(1L) === ((0L, 0L)))
    // redacted text no longer matches the patterns
    val redacted = docs.select($"doc_id",
      regexp_replace(regexp_replace($"text", TextOps.EmailRe, "<EMAIL>"),
        TextOps.PhoneRe, "<PHONE>").as("t"))
      .filter($"doc_id" === 0).head().getString(1)
    assert(redacted.contains("<EMAIL>") && redacted.contains("<PHONE>"))
    assert(!redacted.contains("@") && !redacted.contains("555"))
  }

  test("repetitionScore: looping text scores high, varied text zero, short text absent") {
    val docs = Seq(
      (0L, "spam spam spam spam spam spam spam spam"), // one distinct 3-gram
      (1L, "one two three four five six seven eight"), // all distinct
      (2L, "too short") // < 3 tokens → no shingles → no row
    ).toDF("doc_id", "text")
    val r = TextOps.repetitionScore(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("rep_ratio")).toMap
    assert(r.keySet === Set(0L, 1L))
    assert(r(0L) > 0.8) // 6 shingles, 1 distinct → 1 - 1/6
    assert(r(1L) === 0.0)
  }

  test("hashSplit: content-keyed, duplicate-safe, order-independent") {
    val docs = (0 until 400).map(i => (i.toLong, s"document number ${i % 200}"))
      .toDF("doc_id", "text") // each text appears exactly twice
    val s1 = TextOps.hashSplit(docs)
    val rows = s1.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toMap
    // duplicates (i and i+200 share text) always land in the SAME split
    assert((0 until 200).forall(i => rows(i.toLong) === rows((i + 200).toLong)))
    // all three splits materialize and train dominates
    val counts = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // reshuffled input → identical assignment (pure function of content)
    val s2 = TextOps.hashSplit(docs.repartition(13)).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toMap
    assert(s2 === rows)
  }

  test("domainTemperature: weights form a distribution; T=2 boosts minorities, shrinks the majority") {
    // 80% en / 15% es / 5% de
    val docs = (0 until 200).map { i =>
      val lang = if (i < 160) "en" else if (i < 190) "es" else "de"
      (i.toLong, s"temperature doc $i", lang)
    }.toDF("doc_id", "text", "lang")
    val r = TextOps.domainTemperature(docs).collect()
      .map(x => x.getAs[String]("lang") ->
        ((x.getAs[Double]("share"), x.getAs[Double]("weight"), x.getAs[Double]("boost")))).toMap
    assert(math.abs(r.values.map(_._2).sum - 1.0) < 1e-5)
    // sqrt flattening: dominant shrinks (boost < 1), minorities grow
    assert(r("en")._3 < 1.0 && r("es")._3 > 1.0 && r("de")._3 > 1.0)
    // order preserved: en still gets the largest weight
    assert(r("en")._2 > r("es")._2 && r("es")._2 > r("de")._2)
  }

  test("leakageSafeSplit: a whole near-dup family lands on ONE side of every boundary") {
    // 60 near-dup families of 3 members each: same 10-token body,
    // one trailing token varies — near-dups (high Jaccard) but NOT
    // exact dups, so hashSplit could scatter them; plus 60 singletons
    val family = (0 until 180).map { i =>
      val fam = i / 3
      (i.toLong,
        s"family $fam shares this exact common body of many tokens plus variant${i % 3}")
    }
    val singles = (200 until 260).map(i =>
      (i.toLong, s"completely unrelated singleton text number $i with its own words"))
    val docs = (family ++ singles).toDF("doc_id", "text")
    val clusters = DedupOps.dedupClusters(docs)
      .select($"doc_id", $"component_id".as("cluster_id"))
    val split = TextOps.leakageSafeSplit(docs, clusters).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(split.size === 240)
    // every verified near-dup pair is on the same side
    val pairs = DedupOps.nearDupVerified(docs)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => split(a) === split(b) })
    // and hashSplit on the same corpus DOES scatter at least one pair
    // (the leak this op exists to close — if this ever goes green on
    // its own, the fixture stopped exercising the difference)
    val plain = TextOps.hashSplit(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(pairs.exists { case (a, b) => plain(a) !== plain(b) })
  }

  test("stratifiedSample: per-stratum rates, reproducible, independent of hashSplit") {
    val docs = (0 until 600).map { i =>
      val lang = if (i % 3 == 0) "en" else if (i % 3 == 1) "es" else "de"
      (i.toLong, s"stratified document body number $i", lang)
    }.toDF("doc_id", "text", "lang")
    val kept = TextOps.stratifiedSample(docs, Map("en" -> 20, "es" -> 50))
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // default stratum keeps EVERYTHING; sampled strata keep roughly
    // their rate (hash-uniform: wide tolerance, zero flake)
    assert(byLang("de") === 200L)
    assert(byLang("en") > 10L && byLang("en") < 80L)   // ~40 expected
    assert(byLang("es") > 60L && byLang("es") < 140L)  // ~100 expected
    // keep_pct column reflects the stratum
    val pcts = kept.select("lang", "keep_pct").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pcts === Map("en" -> 20L, "es" -> 50L, "de" -> 100L))
    // pure function of content: a reshuffled input keeps the same ids
    val ids1 = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = TextOps.stratifiedSample(docs.repartition(17), Map("en" -> 20, "es" -> 50))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
    // salted off hashSplit: the en sample must NOT nest inside the
    // test/val splits (same unsalted hash would force bucket<20 ⊂
    // bucket<10 ∪ …; with the salt the buckets decorrelate)
    val splits = TextOps.hashSplit(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val enKept = kept.filter($"lang" === "en").select("doc_id")
      .collect().map(_.getLong(0))
    assert(enKept.exists(id => splits(id) === "train"),
      "sampled en docs all fell in test/val — sampling correlates with hashSplit")
  }

  test("domainMix halves the dominant domain, keeps a 4x-smaller one fully") {
    // en: 16 docs (dominant), de: 4 docs → rate_de = 0.5·√(16/4) = 1.0
    val docs = ((0 until 16).map(i => (i.toLong, s"english document number $i", "en")) ++
      (0 until 4).map(i => (100L + i, s"deutsches dokument nummer $i", "de")))
      .toDF("doc_id", "text", "lang")
    val r = TextOps.domainMix(docs)
    assert(r.filter($"lang" === "de").count() === 4) // rate 1.0 keeps all
    val en = r.filter($"lang" === "en")
    assert(en.count() < 16) // rate 0.5 drops some (hash-dependent, deterministic)
    assert(en.select("rate").distinct().head().getDouble(0) === 0.5)
    // reproducible: same input → same sample
    assert(TextOps.domainMix(docs).collect().toSet === r.collect().toSet)
  }

  test("groupSample keeps at most n per group, deterministically") {
    val docs = ((0 until 30).map(i => (i.toLong, s"english doc $i", "en")) ++
      (0 until 3).map(i => (100L + i, s"de doc $i", "de")))
      .toDF("doc_id", "text", "lang")
    val r = TextOps.groupSample(docs, n = 5)
    val byLang = r.groupBy("lang").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byLang === Map("en" -> 5L, "de" -> 3L)) // clamps to group size
    assert(TextOps.groupSample(docs, n = 5).collect().toSet === r.collect().toSet)
  }

  test("packSequences: stream-local cumsum drives seq ids and offsets") {
    val docs = (0 until 20).map(i => (i.toLong, ("tok " * (i % 5 + 1)).trim))
      .toDF("doc_id", "text")
    val rows = TextOps.packSequences(docs, tokenBudget = 4, nStreams = 2).collect()
    assert(rows.length === 20)
    assert(rows.forall { x =>
      val off = x.getAs[Long]("seq_offset"); off >= 0 && off < 4
    })
    rows.groupBy(_.getAs[Long]("stream_id")).foreach { case (_, stream) =>
      val sorted = stream.sortBy(_.getAs[Long]("doc_id"))
      val starts = sorted.scanLeft(0L)((acc, x) => acc + x.getAs[Long]("n_tok")).init
      sorted.zip(starts).foreach { case (x, start) =>
        assert(x.getAs[Long]("seq_id") === start / 4)
        assert(x.getAs[Long]("seq_offset") === start % 4)
      }
    }
  }

  test("packBestFit: hand-traced BFD fold — fullest fitting bin, new bin on no-fit") {
    // nStreams = 1 pins one fold; sizes 7,6,4,3,2 at budget 10:
    // 7→bin1; 6→bin2 (7+6>10); 4→bin2 (6+4=10 beats nothing else);
    // 3→bin1 (7+3=10); 2→bin3 (both bins full)
    val docs = Seq(7, 6, 4, 3, 2).zipWithIndex
      .map { case (n, i) => (i.toLong, ("w " * n).trim) }
      .toDF("doc_id", "text")
    val r = TextOps.packBestFit(docs, tokenBudget = 10, nStreams = 1).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("bin_id")).toMap
    assert(r === Map(0L -> 1L, 1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 3L))
  }

  test("packBestFit: whole docs, no bin over budget except a lone oversize doc") {
    val docs = (0 until 30).map(i => (i.toLong, ("tok " * (i % 9 + 1)).trim))
      .toDF("doc_id", "text")
    val rows = TextOps.packBestFit(docs, tokenBudget = 8, nStreams = 2).collect()
    assert(rows.length === 30, "every doc assigned exactly once")
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length === 30)
    rows.groupBy(x => (x.getAs[Long]("stream_id"), x.getAs[Long]("bin_id")))
      .foreach { case (_, bin) =>
        val load = bin.map(_.getAs[Long]("n_tok")).sum
        if (load > 8L)
          assert(bin.length === 1 && bin.head.getAs[Long]("n_tok") > 8L,
            "an over-budget bin is exactly one oversize doc")
      }
  }

  test("packBestFitOnline: hand-traced arrival-order fold differs from BFD where it must") {
    // arrival sizes 3,7,4,2,6 at budget 10: 3→bin1; 7→bin1 (3+7=10);
    // 4→bin2; 2→bin2 (best among fitting: 4>nothing else); 6→bin3
    val docs = Seq(3, 7, 4, 2, 6).zipWithIndex
      .map { case (n, i) => (i.toLong, ("w " * n).trim) }
      .toDF("doc_id", "text")
    val online = TextOps.packBestFitOnline(docs, tokenBudget = 10, nStreams = 1).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("bin_id")).toMap
    assert(online === Map(0L -> 1L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 3L))
    // BFD on the same docs (7,6,4,3,2 desc): {7,3},{6,4},{2} — online
    // pays the ordering price exactly where theory says it can
    val bfd = TextOps.packBestFit(docs, tokenBudget = 10, nStreams = 1).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("bin_id")).toMap
    assert(bfd !== online, "the two orders produce different packings on this fixture")
  }

  test("contrastiveBatches: no batch holds two members of one group; batches bounded") {
    val dup = "the quick brown fox jumps over the lazy dog again today"
    val d = ((0 until 3).map(i => (i.toLong, dup)) ++
      (3 until 12).map(i => (i.toLong, s"unique document number $i about topic ${i * 7} entirely")))
      .toDF("doc_id", "text")
    val cl = graft.ops.DedupOps.dedupClusters(d)
      .select(col("doc_id"), col("component_id").as("cluster_id"))
    val r = TextOps.contrastiveBatches(d, cl, batchSize = 2, nShards = 2).collect()
    assert(r.length === 12, "every doc batched exactly once")
    r.groupBy(_.getAs[String]("batch_id")).foreach { case (id, b) =>
      assert(b.length <= 2, s"batch $id within size budget")
      assert(b.map(_.getAs[Long]("group_h")).distinct.length === b.length,
        s"batch $id holds no two members of one group")
    }
    // the dup family is real in this fixture: shared group, distinct batches
    val fams = r.groupBy(_.getAs[Long]("group_h")).filter(_._2.length >= 2)
    assert(fams.nonEmpty, "fixture must exercise a multi-member group")
    fams.values.foreach { members =>
      val ids = members.map(_.getAs[String]("batch_id"))
      assert(ids.distinct.length === ids.length)
    }
  }

  test("packEfficiency: chunk splits but packs tight; bestfit never splits") {
    val docs = (0 until 40).map(i => (i.toLong, ("tok " * (i % 9 + 1)).trim))
      .toDF("doc_id", "text")
    val r = TextOps.packEfficiency(docs, tokenBudget = 8, nStreams = 2).collect()
      .map(x => x.getAs[String]("method") -> x).toMap
    assert(r.keySet === Set("chunk", "bestfit", "bestfit_online"))
    assert(r("chunk").getAs[Long]("used_tokens") === r("bestfit").getAs[Long]("used_tokens"))
    Seq("bestfit", "bestfit_online").foreach { m =>
      assert(r(m).getAs[Long]("n_split_docs") === 0L)
      assert(r(m).getAs[Long]("split_micro") === 0L)
    }
    assert(r("chunk").getAs[Long]("n_split_docs") > 0L, "chunking splits at this density")
    Seq("chunk", "bestfit", "bestfit_online").foreach { m =>
      assert(r(m).getAs[Long]("capacity") >= r(m).getAs[Long]("used_tokens"))
      assert(r(m).getAs[Long]("n_docs") === 40L)
    }
    // the decreasing sort is worth bins on this fixture (not a theorem
    // on every instance, but stable on this spread of sizes)
    assert(r("bestfit").getAs[Long]("n_units") <= r("bestfit_online").getAs[Long]("n_units"))
  }

  test("lmLogprob: corpus-fit unigram LM — exact values on a tiny corpus") {
    // corpus tokens: a a b → p(a)=2/3, p(b)=1/3
    val docs = Seq((0L, "a a"), (1L, "b")).toDF("doc_id", "text")
    val r = TextOps.lmLogprob(docs).collect()
      .map(x => x.getLong(0) -> ((x.getAs[Long]("n_tok"), x.getAs[Double]("avg_logprob"))))
      .toMap
    assert(r(0L)._1 === 2L)
    assert(math.abs(r(0L)._2 - math.log(2.0 / 3.0)) < 1e-5)
    assert(math.abs(r(1L)._2 - math.log(1.0 / 3.0)) < 1e-5)
  }

  test("lmLogprob: rare-token salad scores below common-token text") {
    val common = "the cat sat on the mat and the dog sat too"
    val docs = Seq(
      (0L, common), (1L, common), (2L, common),
      (3L, "zxqv wkjh pqrs mnbv zxqv")) // tokens appearing nowhere else
    .toDF("doc_id", "text")
    val r = TextOps.lmLogprob(docs).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("avg_logprob")).toMap
    assert(r(3L) < r(0L))
    // common docs are identical → identical scores
    assert(r(0L) === r(1L))
  }

  test("lmBigramLogprob: same tokens in improbable order score lower") {
    val docs = Seq(
      (0L, "the cat sat"), (1L, "the cat sat"), (2L, "the cat sat"),
      (3L, "cat the sat") // same unigrams, rare bigrams
    ).toDF("doc_id", "text")
    val r = TextOps.lmBigramLogprob(docs).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("avg_logprob")).toMap
    assert(r(3L) < r(0L)) // unigram LM would call these equal
    assert(r(0L) === r(1L) && r(1L) === r(2L))
    // mixture keeps unseen-bigram mass positive → every score finite
    assert(r.values.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("curatedCorpus keeps only in-language, in-band, above-floor documents") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over and beyond the lazy dog today"), // en, ok
      (1L, "el gato y la casa de los perros grandes en madrid"), // wrong lang
      (2L, "the and of to is the and of to is"), // en but all stopwords → low quality
      (3L, "the ox") // en but under the token floor
    ).toDF("doc_id", "text")
    val kept = TextOps.curatedCorpus(docs, minTokens = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(0L))
  }

  test("dsirWeights: target-like documents score positive, off-domain negative") {
    val raw = Seq((0L, "x x y"), (1L, "z z w")).toDF("doc_id", "text")
    val target = Seq((9L, "x y")).toDF("doc_id", "text")
    val w = TextOps.dsirWeights(raw, target).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("dsir_weight")).toMap
    // shared vocab {x,y,z,w}: doc 0's tokens all appear in the target
    // (weight ≈ +0.24), doc 1's never do (≈ −0.45)
    assert(w(0L) > 0.0, s"in-domain doc got ${w(0L)}")
    assert(w(1L) < 0.0, s"off-domain doc got ${w(1L)}")
    assert(w(0L) > w(1L))
  }

  test("charEntropy: 0 for constant text, ln(k) for uniform k-char text") {
    val docs = Seq((0L, "aaaa"), (1L, "abab"), (2L, "abcd")).toDF("doc_id", "text")
    val e = TextOps.charEntropy(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("entropy")).toMap
    assert(e(0L) === 0.0)
    assert(math.abs(e(1L) - math.log(2)) < 1e-5)
    assert(math.abs(e(2L) - math.log(4)) < 1e-5)
    assert(e(0L) < e(1L) && e(1L) < e(2L))
  }

  test("charEntropy edge contract: empty docs emit NO row (both engines agree)") {
    val docs = Seq((0L, ""), (1L, "aab")).toDF("doc_id", "text")
    val rows = TextOps.charEntropy(docs).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L)) // doc 0 filtered, never null-entropy
    val r = rows.head
    assert(r.getAs[Long]("n_chars") === 3L)
    assert(r.getAs[Long]("n_distinct_chars") === 2L)
    // -(2·round(ln(2/3),6) + round(ln(1/3),6)) / 3, rounded once
    assert(math.abs(r.getAs[Double]("entropy") - 0.636514) < 1e-6)
  }

  test("dsirSelect: histogram threshold keeps exactly the global top-quarter") {
    // 8 docs, distinct weights except a tie group straddling the cut
    val raw = Seq(
      (0L, "x x x"), (1L, "x x y"), (2L, "x y y"), (3L, "y y y"),
      (4L, "x x z"), (5L, "x y z"), (6L, "y z z"), (7L, "z z z")
    ).toDF("doc_id", "text")
    val target = Seq((9L, "x x y")).toDF("doc_id", "text")
    val sel = TextOps.dsirSelect(raw, target).select("doc_id").as[Long].collect().toSet
    // k = ceil(8/4) = 2; global (weight desc, doc_id asc) top-2 twin
    val w = TextOps.dsirWeights(raw, target).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("dsir_weight")))
    val top2 = w.sortBy { case (id, dw) => (-dw, id) }.take(2).map(_._1).toSet
    assert(sel === top2)
  }

  test("bpeTokenize: encoded lengths shrink as merges apply") {
    val docs = Seq((0L, "low lower low"), (1L, "low")).toDF("doc_id", "text")
    val r = TextOps.bpeTokenize(docs, rounds = 4).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // after 4 merges (l+o, lo+w, e+r, low+er — see the merges spec)
    // both "low" and "lower" are single symbols
    assert(r(0L) === ((3L, 3L)))
    assert(r(1L) === ((1L, 1L)))
    // with zero merges the encoded length is the character census
    val r0 = TextOps.bpeTokenize(docs, rounds = 0).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r0(0L) === 11L) // 3+5+3 chars
    assert(r0(1L) === 3L)
  }

  test("bpeMerges: the hand-computed low/lower merge sequence") {
    val docs = Seq((0L, "low lower low")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(docs, rounds = 4).orderBy("merge_round")
      .as[(Long, String, String, Long)].collect().toSeq
    // (l,o) and (o,w) tie at 3 → lhs tie-break picks (l,o); after
    // low collapses, (e,r) wins its 1-count tie against (low,e)
    assert(got === Seq((1L, "l", "o", 3L), (2L, "lo", "w", 3L),
      (3L, "e", "r", 1L), (4L, "low", "er", 1L)))
  }

  test("bpeVocabGrowth: live-symbol census and compression curve at checkpoints") {
    val docs = Seq((0L, "low lower low")).toDF("doc_id", "text")
    val got = TextOps.bpeVocabGrowth(docs, rounds = 4, every = 2)
      .orderBy("merge_round").as[(Long, Long, Long)].collect().toSeq
    // after r2 (l,o)+(lo,w): words are low×2, low|e|r×1 → 3 live
    // symbols, encoded length 2·1 + 1·3 = 5; after r4 (e,r)+(low,er):
    // low×2, lower×1 → 2 symbols, length 3
    assert(got === Seq((2L, 3L, 5L), (4L, 2L, 3L)))
  }

  test("bpeMerges: greedy left-to-right merges BOTH disjoint pairs of aaaa") {
    val docs = Seq((0L, "aaaa")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(docs, rounds = 2).orderBy("merge_round")
      .as[(Long, String, String, Long)].collect().toSeq
    // round 1 counts the three overlapping (a,a) pairs but merges only
    // the two DISJOINT ones; an under-merging round 2 would instead
    // emit (a,a) again from a leftover "aa a a" split
    assert(got === Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)))
  }

  test("gopherRepetition: top fraction picks the tie-broken top gram; dup sums repeats") {
    // "a b a b a b" — 6 toks, 11 chars. 2-grams: "a b"×3, "b a"×2 →
    // top = "a b" (count 3, 3 chars) → 9/11. dup over n=5: both
    // 5-grams unique → 0.0
    val docs = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val r = TextOps.gopherRepetition(docs).collect()
      .map(x => x.getAs[Long]("n") ->
        (x.getAs[String]("kind"), x.getAs[Double]("char_frac"), x.getAs[Boolean]("ok"))).toMap
    assert(r.keySet === (2L to 6L).toSet) // only n ≤ token count emit
    assert(r(2L) === (("top", 0.818182, false))) // 9/11 > 0.20
    assert(r(4L)._1 === "top")
    // 4-grams: "a b a b"×? positions 1..3: "a b a b","b a b a","a b a b" →
    // top count 2, len 7 → 14/11 (uncorrected form may exceed 1)
    assert(r(4L)._2 === 1.272727)
    assert(r(5L) === (("dup", 0.0, true)))  // no repeated 5-gram
    // count ties at n=6 (single gram, count 1): not dup → 0.0
    assert(r(6L) === (("dup", 0.0, true)))
  }

  test("gopherRepetition: dup fraction counts every repeated gram's occurrences") {
    // 10 toks, all "x": n=5 grams = 6 occurrences of "x x x x x"
    // (9 chars) → dup_chars 54, doc_chars 19 → 2.842105
    val docs = Seq((1L, Seq.fill(10)("x").mkString(" "))).toDF("doc_id", "text")
    val r = TextOps.gopherRepetition(docs).collect()
      .map(x => x.getAs[Long]("n") -> x.getAs[Double]("char_frac")).toMap
    assert(r(5L) === 2.842105) // round(54/19, 6): the uncorrected form
    assert(r(10L) === 0.0)     // exactly one 10-gram: count 1 is not a dup
  }

  test("gopherRules: each word-level rule independently gates the pass flag") {
    val fifty = (1 to 48).map(i => s"word$i").mkString(" ") // 48 filler words
    val docs = Seq(
      (0L, s"the of $fifty"),               // 50 words, 2 req stopwords → passes
      (1L, "the of too short"),             // < 50 words
      (2L, s"the the $fifty"),              // only ONE distinct req stopword
      (3L, s"the of $fifty # # # # # # #"), // 7 syms / 57 words > 0.1
      (4L, "the of " + (1 to 48).map(_ => "p").mkString(" ")) // mean len < 3
    ).toDF("doc_id", "text")
    val r = TextOps.gopherRules(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Boolean]("passes"))
    assert(r(0L).getAs[Long]("n_words") === 50L)
    assert(r(0L).getAs[Long]("n_req_stopwords") === 2L)
    assert(r(0L).getAs[Double]("alpha_frac") === 1.0)
    assert(!r(1L).getAs[Boolean]("passes"))
    assert(!r(2L).getAs[Boolean]("passes") &&
      r(2L).getAs[Long]("n_req_stopwords") === 1L)
    assert(!r(3L).getAs[Boolean]("passes") &&
      r(3L).getAs[Double]("sym_ratio") > 0.1)
    assert(!r(4L).getAs[Boolean]("passes") &&
      r(4L).getAs[Double]("mean_word_len") < 3.0)
  }

  test("langConfusion: diagonal + off-diagonal cells with per-gold recall") {
    val docs = Seq(
      (0L, "the cat and the dog", "en"),   // en text, gold en → diagonal
      (1L, "the end of it", "en"),          // en text, gold en
      (2L, "el perro y la casa", "es"),     // es text, gold es
      (3L, "the big party", "es")           // en text, gold es → off-diagonal
    ).toDF("doc_id", "text", "lang")
    val m = TextOps.langConfusion(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("predicted_lang")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("recall"))).toMap
    assert(m(("en", "en")) === ((2L, 1.0)))
    assert(m(("es", "es")) === ((1L, 0.5)))
    assert(m(("es", "en")) === ((1L, 0.5)))
    assert(m.size === 3)
  }


  test("weightedSample: matches a driver-side A-ES recomputation exactly") {
    val docs = (1L to 300L).map(i => (i, "x" * (i % 7 + 1).toInt, 10L + (i % 90) * 37))
      .toDF("doc_id", "text", "n_chars")
    val got = TextOps.weightedSample(docs, k = 25).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Long]("key_micro")))
    // brute-force twin: same hash, same formula, JVM doubles
    val lnH = math.log(281474976710656.0)
    def h48(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(s.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val brute = (1L to 300L).map { i =>
      val w = math.max(10L + (i % 90) * 37, 1L).toDouble
      val key = math.round((lnH - math.log(h48(s"ws:$i").toDouble + 1)) / w * 1e6)
      (i, key)
    }.sortBy(p => (p._2, p._1)).take(25).zipWithIndex
      .map { case ((id, key), idx) => (idx + 1L, id, key) }
    assert(got.toSeq === brute)
  }

  test("weightedSample: heavy-weight rows dominate the sample") {
    // 500 light docs (w=20) vs 500 heavy docs (w=4000): heavy rows
    // should win nearly every slot (w ratio 200:1)
    val docs = ((1L to 500L).map(i => (i, "a", 20L)) ++
      (501L to 1000L).map(i => (i, "b", 4000L))).toDF("doc_id", "text", "n_chars")
    val picked = TextOps.weightedSample(docs, k = 60).collect().map(_.getAs[Long]("doc_id"))
    val heavy = picked.count(_ > 500L)
    assert(heavy >= 54, s"expected heavy docs to dominate, got $heavy/60")
    // the sample is ranked by race key, ranks are 1..k dense
    assert(picked.length === 60)
  }

  test("wordPmi: associated pair outranks frequent-but-independent pairs; window and support respected") {
    // "alpha beta" always co-occur adjacently; "x"/"y" are frequent but
    // appear in separate docs (never co-occur); "far gap gap gap end":
    // far/end sit 4 apart — outside the ±2 window
    val docs = (
      (1L to 20L).map(i => (i, "alpha beta filler" + i)) ++
      (21L to 40L).map(i => (i, s"x x x pad$i")) ++
      (41L to 60L).map(i => (i, s"y y y pad$i")) ++
      Seq((61L, "far gap gap gap end"))
    ).toDF("doc_id", "text")
    val r = TextOps.wordPmi(docs, window = 2, minCount = 3, topN = 50).collect()
    val pairs = r.map(x => (x.getAs[String]("t1"), x.getAs[String]("t2"))).toSet
    val pmiOf = r.map(x => ((x.getAs[String]("t1"), x.getAs[String]("t2")),
      x.getAs[Double]("pmi"))).toMap
    assert(pairs.contains(("alpha", "beta")))
    assert(!pairs.contains(("end", "far")), "pair 4 apart must be outside the ±2 window")
    // (x,x) co-occurs often but x is frequent everywhere → lower PMI
    // than the perfectly-associated (alpha,beta)
    assert(pmiOf(("alpha", "beta")) > pmiOf(("x", "x")))
    // ranks dense from 1
    assert(r.map(_.getAs[Long]("rank")).toSeq === (1L to r.length))
  }

  test("cvFolds: deterministic assignment, complete partition, roughly balanced strata") {
    val docs = (1 to 500).map(i => (i.toLong, s"document number $i with text", "en", "s", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.cvFolds(docs, k = 5).collect()
      .map(x => x.getAs[Long]("fold") ->
        ((x.getAs[Long]("n_docs"), x.getAs[Double]("share_of_lang")))).toMap
    assert(r.keySet === (0L until 5L).toSet, "every fold populated")
    assert(r.values.map(_._1).sum === 500L, "folds partition the corpus")
    assert(math.abs(r.values.map(_._2).sum - 1.0) < 1e-4)
    // hash balance: each fold within [0.1, 0.3] of the 0.2 ideal
    assert(r.values.forall(v => v._2 > 0.1 && v._2 < 0.3), r.toString)
    // determinism across recomputation
    val again = TextOps.cvFolds(docs, k = 5).collect()
      .map(x => (x.getLong(0), x.getAs[Long]("n_docs"))).toMap
    assert((0L until 5L).forall(f => again(f) === r(f)._1))
  }

  test("lengthBuckets: power-of-two assignment, truncation at the cap, exact waste ratio") {
    val docs = Seq(
      (1L, "a"),                          // 1 tok  → bucket 1
      (2L, "a b c"),                      // 3 tok  → bucket 4
      (3L, "a b c d"),                    // 4 tok  → bucket 4
      (4L, Seq.fill(600)("x").mkString(" ")) // 600 tok → capped at 512, truncated
    ).toDF("doc_id", "text")
    val r = TextOps.lengthBuckets(docs).collect()
      .map(x => x.getAs[Long]("bucket") ->
        ((x.getAs[Long]("n_docs"), x.getAs[Long]("used_tokens"),
          x.getAs[Long]("capacity"), x.getAs[Double]("padding_waste")))).toMap
    assert(r(1L) === ((1L, 1L, 1L, 0.0)))
    // bucket 4: docs of 3 and 4 tokens → used 7 of capacity 8
    assert(r(4L) === ((2L, 7L, 8L, 0.125)))
    // the 600-token doc truncates to the 512 cap: zero padding waste
    assert(r(512L) === ((1L, 512L, 512L, 0.0)))
    assert(r.size === 3)
  }

  test("qualityBlend: percentiles are monotone in the metric and the blend averages them") {
    // 20 docs with strictly increasing length; quality/fluency held
    // constant-ish by identical text, so p_length drives the blend
    val docs = (1 to 20).map(i =>
      (i.toLong, "alpha beta gamma delta", "en", "s", i * 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.qualityBlend(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Double]("p_length"), x.getAs[Double]("blend")))).toMap
    // longer doc → higher (never lower) length percentile
    val ps = (1 to 20).map(i => r(i.toLong)._1)
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b })
    assert(ps.head < ps.last)
    // identical text ⇒ p_quality == p_logprob == 1.0 (single bin),
    // so blend = (2 + p_length) / 3 exactly
    (1 to 20).foreach { i =>
      val (pl, bl) = r(i.toLong)
      assert(math.abs(bl - (2.0 + pl) / 3.0) < 2e-6, s"doc $i: $bl vs ${(2.0 + pl) / 3}")
    }
  }

  test("domainWeights: the rare-token domain carries the excess loss and the larger weight") {
    // srcA speaks in corpus-common tokens; srcB in tokens that appear
    // nowhere else (low corpus probability → worse LM loss → excess)
    val docs = ((1 to 20).map(i => (i.toLong, "the cat sat on the mat", "en", "srcA", 22L)) ++
      (21 to 24).map(i => (i.toLong, s"zyx$i wvu$i tsr$i qpo$i nml$i kji$i", "en", "srcB", 30L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.domainWeights(docs).collect()
      .map(x => x.getAs[String]("source") ->
        ((x.getAs[Double]("excess"), x.getAs[Double]("weight")))).toMap
    assert(r("srcA")._1 === 0.0, "the easy domain sits below the reference: excess clips to 0")
    assert(r("srcB")._1 > 0.0)
    assert(r("srcB")._2 > r("srcA")._2)
    // weights are a mixture: they sum to ~1
    val tot = r.values.map(_._2).sum
    assert(math.abs(tot - 1.0) < 1e-4, s"weights sum $tot")
  }

  test("langSourceMi: independent facets give MI 0; a bijection gives MI = H and NMI 1") {
    // independent: every (lang, source) cell equally filled
    val ind = (for { l <- Seq("en", "es"); s <- Seq("a", "b"); i <- 1 to 5 }
      yield (s"$l$s$i", l, s)).zipWithIndex
      .map { case ((t, l, s), i) => (i.toLong, t, l, s, 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r1 = TextOps.langSourceMi(ind).collect()(0)
    assert(r1.getAs[Double]("mi") === 0.0)
    assert(r1.getAs[Double]("nmi") === 0.0)
    assert(r1.getAs[Long]("n_cells") === 4L)
    // bijective: source determines lang exactly → MI = H(lang), NMI = 1
    val dep = (for { (l, s) <- Seq(("en", "a"), ("es", "b")); i <- 1 to 6 }
      yield (l, s)).zipWithIndex
      .map { case ((l, s), i) => (i.toLong, s"t$i", l, s, 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r2 = TextOps.langSourceMi(dep).collect()(0)
    assert(r2.getAs[Double]("mi") === r2.getAs[Double]("h_lang"))
    assert(r2.getAs[Double]("nmi") === 1.0)
    assert(math.abs(r2.getAs[Double]("h_lang") - math.log(2)) < 1e-5)
  }

  test("wordPmi: marginals are the pair-mass sums and S is their total") {
    val docs = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    // pairs d=1: (a,b)x5 ; d=2: (a,a)x2, (b,b)x2 → S=9
    val r = TextOps.wordPmi(docs, window = 2, minCount = 1, topN = 10).collect()
      .map(x => ((x.getAs[String]("t1"), x.getAs[String]("t2")),
        (x.getAs[Long]("c_xy"), x.getAs[Long]("m_x"), x.getAs[Long]("m_y")))).toMap
    assert(r(("a", "b"))._1 === 5L)
    assert(r(("a", "a"))._1 === 2L)
    assert(r(("b", "b"))._1 === 2L)
    // m(a) = 5 (from ab) + 2·2 (from aa twice, both sides) = 9
    assert(r(("a", "b"))._2 === 9L && r(("a", "b"))._3 === 9L)
  }

  test("zipfFit: a perfect 1/rank law fits slope -1, intercept ln(max)") {
    // frequencies 12, 6, 4, 3 = 12/rank: ln n = ln 12 - 1 * ln rank
    val words =
      Seq.fill(12)("alpha") ++ Seq.fill(6)("beta") ++
        Seq.fill(4)("gamma") ++ Seq.fill(3)("delta")
    val docs = Seq((0L, words.mkString(" "))).toDF("doc_id", "text")
    val r = TextOps.zipfFit(docs, topN = 4).collect()(0)
    assert(r.getAs[Long]("n_terms") === 4L)
    assert(math.abs(r.getAs[Double]("slope") - (-1.0)) < 1e-4)
    assert(math.abs(r.getAs[Double]("intercept") - math.log(12.0)) < 1e-4)
  }

  test("pretrainPipeline: monotone funnel, each stage drops what it should") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val r = TextOps.pretrainPipeline(docs).collect()
      .map(x => x.getAs[Long]("stage") ->
        ((x.getAs[Long]("n_docs"), x.getAs[Long]("n_tokens")))).toMap
    assert(r.keySet === Set(1L, 2L, 3L, 4L))
    // monotone non-increasing in both docs and tokens
    (1L to 3L).foreach { s =>
      assert(r(s)._1 >= r(s + 1)._1, s"stage $s docs")
      assert(r(s)._2 >= r(s + 1)._2, s"stage $s tokens")
    }
    // every stage retains something on the real corpus
    assert(r(4L)._1 > 0L && r(4L)._2 > 0L)
  }

  test("tokenizerRoundtrip: merges stay lossless — census and decode reconcile exactly") {
    val docs = Seq((1L, "banana bandana ban banana"), (2L, "an and banana"))
      .toDF("doc_id", "text")
    val r = TextOps.tokenizerRoundtrip(docs).collect()(0)
    assert(r.getAs[Boolean]("all_ok"), s"roundtrip broken: $r")
    assert(r.getAs[Long]("n_unmatched") === 0L)
    assert(r.getAs[Long]("n_words") === 5L) // banana bandana ban an and
  }

  test("lmTune: deterministic bigram structure selects the high-lambda mixture; OOV counted") {
    import graft.functions.PortableHash.hash24Jvm
    // every doc is the same a→b→c cycle: each held-out bigram has
    // c12/c1 = 1.0 in train vs unigram mass 1/3, so the mixture
    // λ·1 + (1−λ)/3 grows with λ — λ=0.9 must win
    def heldOut(id: Long) = hash24Jvm(s"lmt:$id") % 4 == 0
    val ids = 1L to 40L
    assert(ids.exists(heldOut) && ids.exists(!heldOut(_)), "both splits populated")
    // one held-out doc carries a word absent from train → OOV bigrams
    val oovId = ids.find(heldOut).get
    val docs = ids.map { i =>
      (i, if (i == oovId) "a zzz_unseen" else "a b c a b c a b c")
    }.toDF("doc_id", "text")
    val r = TextOps.lmTune(docs).collect()
      .map(x => x.getAs[Double]("lambda") -> x).toMap
    assert(r.size === 4)
    assert(r(0.9).getAs[Boolean]("is_best"), s"high lambda must win: $r")
    assert(!r(0.3).getAs[Boolean]("is_best"))
    // the (a, zzz_unseen) bigram is skipped and counted, not scored
    assert(r(0.5).getAs[Long]("n_oov") === 1L)
    // monotone in lambda on this corpus
    assert(r(0.9).getAs[Double]("avg_logprob") > r(0.3).getAs[Double]("avg_logprob"))
  }

  test("lmKneserNey: continuation backoff beats the frequency floor on novel contexts") {
    import graft.functions.PortableHash.hash24Jvm
    def heldOut(id: Long) = hash24Jvm(s"lmt:$id") % 4 == 0
    val ids = 1L to 40L
    val oovId = ids.find(heldOut).get
    // train: "the" continues MANY distinct contexts (high continuation
    // probability, modest unigram share); "francisco" is frequent but
    // context-locked to "san". Held-out docs reuse "<x> the" bigrams —
    // mostly unseen as bigrams, so both models live on their backoff:
    // JM's unigram floor underrates "the" (its mass sits with
    // francisco), KN's continuation count nails it.
    val trainText = "q1 the q2 the q3 the q4 the san francisco " +
      "san francisco san francisco san francisco san francisco"
    // q1 leads (it is never a continuation in train — as w2 it would
    // fall outside the shared scoring domain); q2..q4 follow "the"
    val heldText = "q1 the q3 the q2 the q4 the"
    val docs = ids.map { i =>
      (i, if (i == oovId) "q1 zzz_unseen"
          else if (heldOut(i)) heldText else trainText)
    }.toDF("doc_id", "text")
    val r = TextOps.lmKneserNey(docs).collect()
      .map(x => x.getAs[String]("model") ->
        ((x.getAs[Long]("n_scored"), x.getAs[Long]("n_oov"),
          x.getAs[Double]("avg_logprob"), x.getAs[Boolean]("is_best")))).toMap
    assert(r.size === 2)
    assert(r("kneser_ney")._1 === r("jelinek_mercer")._1,
      "both models score the SAME held-out domain")
    assert(r("kneser_ney")._2 === 1L, "the zzz bigram skipped once, shared")
    assert(r("kneser_ney")._3 > r("jelinek_mercer")._3,
      s"KN must win on continuation-skewed held-out: $r")
    assert(r("kneser_ney")._4 && !r("jelinek_mercer")._4)
  }

  test("rhoSelect: token order drives rho; top quarter selected with dominance") {
    // 7 docs share the corpus-dominant bigram pattern a→b→c; doc 8 has
    // the SAME unigram profile but scrambled order — identical lp_uni,
    // rare bigrams ⇒ lower lp_bi ⇒ lower rho
    val docs = ((1L to 7L).map(i => (i, "a b c a b c a b c")) :+
      ((8L, "a a a b b b c c c"))).toDF("doc_id", "text")
    val all = TextOps.lmLogprob(docs)
      .select(col("doc_id"), col("avg_logprob").as("lp_uni"))
      .join(TextOps.lmBigramLogprob(docs)
        .select(col("doc_id"), col("avg_logprob").as("lp_bi")), "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("lp_uni"), r.getAs[Double]("lp_bi")))).toMap
    assert(all(8L)._1 === all(1L)._1, "same token mix ⇒ same unigram score")
    assert(all(8L)._2 < all(1L)._2, "scrambled order must score lower on bigrams")
    val sel = TextOps.rhoSelect(docs).collect()
    assert(sel.length === 2) // ceil(8/4)
    assert(sel.forall(_.getAs[Long]("doc_id") <= 7L),
      "the scrambled doc must not be selected")
    // dominance: every selected rho ≥ every excluded rho
    val selRho = sel.map(_.getAs[Double]("rho")).min
    val exclRho = all(8L)._2 - all(8L)._1
    assert(selRho >= exclRho)
  }

  test("heapsFit: every-token-new corpus fits beta 1, K 1 exactly") {
    // doc i = one unique word ⇒ V(n) = T(n) = n at every prefix:
    // ln V = 1·ln T + 0, so the fit must recover beta 1, k_coef 1
    val docs = (1L to 64L).map(i => (i, s"w$i")).toDF("doc_id", "text")
    val r = TextOps.heapsFit(docs).collect()(0)
    assert(r.getAs[Long]("n_points") >= 2L)
    assert(math.abs(r.getAs[Double]("beta") - 1.0) < 1e-4)
    assert(math.abs(r.getAs[Double]("k_coef") - 1.0) < 1e-3)
  }

  test("heapsFit: a saturating vocabulary fits sublinear beta") {
    // first 8 docs introduce words, the remaining 120 repeat word w1 —
    // vocabulary growth stalls while token mass keeps rising
    val docs = ((1L to 8L).map(i => (i, s"w$i")) ++
      (9L to 128L).map(i => (i, "w1 w1 w1"))).toDF("doc_id", "text")
    val beta = TextOps.heapsFit(docs).collect()(0).getAs[Double]("beta")
    assert(beta > 0.0 && beta < 0.9, s"expected sublinear growth, got $beta")
  }

  test("oovRate: tokens outside the top-k vocabulary are counted per source") {
    val docs = Seq(
      (0L, "a a a b b c", "s1"), // with vocab {a, b}: 1 OOV of 6
      (1L, "a b rare", "s2")     // 1 OOV of 3
    ).toDF("doc_id", "text", "source")
    val r = TextOps.oovRate(docs, vocabSize = 2).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    assert(r("s1").getAs[Long]("n_tokens") === 6L)
    assert(r("s1").getAs[Long]("n_oov") === 1L)
    assert(r("s1").getAs[Double]("oov_rate") === 0.166667)
    assert(r("s2").getAs[Long]("n_oov") === 1L)
    assert(r("s2").getAs[Double]("oov_rate") === 0.333333)
  }

  private def langAccuracy(gold: org.apache.spark.sql.DataFrame,
                           pred: org.apache.spark.sql.DataFrame): Double = {
    val j = gold.join(pred, "doc_id")
    j.filter($"lang" === $"predicted_lang").count().toDouble / j.count()
  }

  test("langIdLearned beats the marker baseline on a real multilingual fixture, incl. zh") {
    // genuinely distinct languages — the driver corpus' lang labels
    // are synthetic noise over one shared vocabulary (no text signal),
    // so the model-quality claim is pinned on a REAL fixture; zh has
    // no function-word markers, only character statistics
    val fixture = Seq(
      "the weather is lovely today and the birds sing in the garden",
      "a good book and a cup of tea make the evening very pleasant",
      "the train to the city leaves early in the morning every day",
      "children play in the park while the parents watch from the bench",
      "el tiempo es agradable hoy y los pajaros cantan en el jardin",
      "un buen libro y una taza de cafe hacen la tarde muy agradable",
      "el tren a la ciudad sale temprano por la manana cada dia",
      "los ninos juegan en el parque mientras los padres miran del banco",
      "das wetter ist heute schoen und die voegel singen im garten",
      "ein gutes buch und eine tasse tee machen den abend sehr angenehm",
      "der zug in die stadt faehrt jeden morgen sehr frueh ab",
      "die kinder spielen im park waehrend die eltern von der bank zusehen",
      "le temps est agreable aujourd'hui et les oiseaux chantent au jardin",
      "un bon livre et une tasse de the rendent la soiree tres agreable",
      "le train pour la ville part tot le matin chaque jour",
      "les enfants jouent au parc pendant que les parents regardent du banc",
      "今天天气很好花园里的鸟儿在歌唱天空晴朗",
      "一本好书和一杯茶让晚上变得非常愉快舒适",
      "去城里的火车每天早上很早就出发了准时",
      "孩子们在公园里玩耍父母在长椅上看着他们")
    val langs = Seq.fill(4)("en") ++ Seq.fill(4)("es") ++ Seq.fill(4)("de") ++
      Seq.fill(4)("fr") ++ Seq.fill(4)("zh")
    val docs = fixture.zip(langs).zipWithIndex
      .map { case ((t, l), i) => (i.toLong, t, l) }.toDF("doc_id", "text", "lang")
    val gold = docs.select($"doc_id", $"lang")
    val learned = TextOps.langIdLearned(docs).select($"doc_id", $"predicted_lang")
    val marker = TextOps.langId(docs).select($"doc_id", $"predicted_lang")
    val (accL, accM) = (langAccuracy(gold, learned), langAccuracy(gold, marker))
    assert(accL >= accM,
      s"learned NB accuracy $accL must be >= marker baseline $accM")
    assert(accL >= 0.8, s"learned NB should dominate a distinct-language fixture, got $accL")
    val zh = gold.filter($"lang" === "zh").join(learned, "doc_id")
    val zhHit = zh.filter($"predicted_lang" === "zh").count()
    assert(zhHit > zh.count() / 2,
      s"learned model must identify most zh docs, got $zhHit of ${zh.count()}")
  }

  test("langIdLearned never trails the marker baseline on the driver corpus") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists(),
      s"driver testdata missing at $dir")
    val docs = Tables.documents(spark, dir)
    val gold = docs.select($"doc_id", $"lang")
    val accL = langAccuracy(gold, TextOps.langIdLearned(docs).select($"doc_id", $"predicted_lang"))
    val accM = langAccuracy(gold, TextOps.langId(docs).select($"doc_id", $"predicted_lang"))
    // the driver corpus' labels carry (almost) no text signal — both
    // models degenerate toward the majority class; learned must not
    // be WORSE (it learns the prior; the markers hardcode en)
    assert(accL >= accM, s"learned $accL must be >= marker $accM")
  }

  test("langIdLearned: featureless docs fall back to the prior argmax; ties on lang") {
    // corpus with an 'en'-majority prior and one sub-trigram doc; the
    // train split keeps whatever the hash keeps — the fallback must
    // still be the prior argmax over the TRAINED langs
    val docs = Seq(
      (0L, "the cat sat on the mat with the hat and the rat", "en"),
      (1L, "the dog ran over the log to the fog in the bog today", "en"),
      (2L, "el perro corre por el parque con la nina cada dia", "es"),
      (3L, "der hund lauft durch den park mit dem kind jeden tag", "de"),
      (4L, "ab", "en") // no trigram features
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.langIdLearned(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size === 5, "every doc gets exactly one prediction")
    assert(Set("en", "es", "de").contains(out(4L)),
      "featureless doc must take the prior argmax over trained langs")
  }

  test("unigramEncode: Viterbi beats greedy exactly where long-first-piece stranding occurs") {
    // census: ab×3, cd×3, abcd×1. Top-3 multi pieces: ab(4), cd(4),
    // abc(1). Greedy on "abcd" takes the longest prefix 'abc' and
    // strands 'd'; Viterbi scores ab+cd ≈ 2·ln(4/25) above
    // abc+d ≈ ln(1/25)+ln(4/25) and picks the two frequent pieces —
    // the exact divergence the max-likelihood dp exists to fix
    val docs = Seq((0L, "ab cd ab cd ab cd abcd")).toDF("doc_id", "text")
    val greedy = TextOps.wordpieceEncode(docs, vocabSize = 3).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(greedy("abcd") === "abc d")
    val vit = TextOps.unigramEncode(docs, vocabSize = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(vit("abcd") === ((2L, "ab cd")))
    // frequent whole words segment as themselves under both
    assert(vit("ab") === ((1L, "ab")))
    assert(vit("cd") === ((1L, "cd")))
  }

  test("tokenizerFertility: both algorithms cover the same corpus; weighted totals exact") {
    // greedy: ab×3 + cd×3 at 1 piece, abcd → 'abc d' (2 pieces);
    // viterbi: abcd → 'ab cd' (also 2 pieces) — different PATH, same
    // count, so fertility agrees at 8 pieces / 7 occurrences
    val docs = Seq((0L, "ab cd ab cd ab cd abcd")).toDF("doc_id", "text")
    val r = TextOps.tokenizerFertility(docs, vocabSize = 3).collect()
      .map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4)))).toMap
    assert(r.keySet === Set("wordpiece_greedy", "unigram_viterbi"))
    assert(r("wordpiece_greedy") === ((3L, 7L, 8L, 1.142857)))
    assert(r("unigram_viterbi") === ((3L, 7L, 8L, 1.142857)))
  }

  test("wordpiece: vocab ranking by weighted occurrence, greedy longest-match, char fallback") {
    // census: abab (wc 2), cd (wc 1). Multi-char piece scores:
    // ab appears twice per abab → 4; ba/aba/bab/abab → 2 each;
    // cd → 1. vocabSize=2 keeps {ab, aba} (tie at 2 broken to the
    // lexicographically smallest piece)
    val docs = Seq((0L, "abab abab cd")).toDF("doc_id", "text")
    val v = TextOps.wordpieceVocab(docs, vocabSize = 2).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(v === Seq((1L, "ab", 4L), (2L, "aba", 2L)))
    // greedy must take the LONGEST prefix: abab → 'aba' (3) not 'ab',
    // then the char fallback 'b'; cd has no multi-char piece → chars
    val e = TextOps.wordpieceEncode(docs, vocabSize = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(e("abab") === ((2L, 2L, "aba b")))
    assert(e("cd") === ((1L, 2L, "c d")))
  }
  test("textrankKeywords: the bridging hub outranks leaves, self-pairs carry nothing") {
    // hub co-occurs with four distinct leaves (each pair twice, past
    // minCount); 'spam' repeats within its own doc only — self-pairs
    // are dropped, so raw frequency alone earns NO rank
    val docs = (Seq.fill(2)(Seq("hub a", "hub b", "hub c", "hub d")).flatten ++
      Seq("spam spam spam spam spam spam"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val r = TextOps.textrankKeywords(docs).collect()
      .map(x => x.getAs[Long]("rank") ->
        ((x.getAs[String]("word"), x.getAs[Double]("score"))))
      .toMap
    assert(r(1L)._1 === "hub", "graph centrality, not raw frequency")
    assert(!r.values.exists(_._1 === "spam"))
    assert(Seq(2L, 3L, 4L, 5L).map(r(_)._1) === Seq("a", "b", "c", "d"),
      "tied leaves order by word")
    assert(r(1L)._2 > r(2L)._2)
  }

  test("readabilityScore: FK counts and forms; vowel-less words count one syllable; wordless docs drop") {
    val docs = Seq(
      (0L, "The cat sat. The dog ran!"), // 6 words, 2 sentences, 6 syllables
      (1L, "tsk tsk"),                   // vowel-less words floor at 1 syllable
      (2L, "beautiful"),                 // eau | i | u = 3 vowel groups
      (3L, "123 !!! ???")                // zero words -> no row
    ).toDF("doc_id", "text")
    val r = TextOps.readabilityScore(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_words"), x.getAs[Long]("n_sentences"),
          x.getAs[Long]("n_syllables"), x.getAs[Double]("fk_grade"),
          x.getAs[Double]("reading_ease")))).toMap
    assert(r(0L) === ((6L, 2L, 6L, -2.62, 119.19)))
    assert(r(1L)._1 === 2L)
    assert(r(1L)._2 === 1L, "punctuation-free text is one sentence, not 0/0")
    assert(r(1L)._3 === 2L, "max(1, vowel groups) per word")
    assert(r(2L)._3 === 3L)
    assert(!r.contains(3L), "a wordless text has no readability")
  }

  test("encodingAudit: dirty-text counters fire, clean text pins zeros, whitespace never double-counts as control") {
    val docs = Seq(
      (0L, "ab�cd\u0001é\t x", "dirty"), // 1 repl, 1 ctl, 2 non-ascii, 2 ws
      (1L, "clean lowercase text", "clean"),
      (2L, "", "empty") // zero-char source drops (no ratio exists)
    ).toDF("doc_id", "text", "source")
    val r = TextOps.encodingAudit(docs).collect()
      .map(x => x.getAs[String]("source") ->
        ((x.getAs[Long]("n_chars"), x.getAs[Long]("n_replacement"),
          x.getAs[Long]("n_control"), x.getAs[Long]("n_non_ascii"),
          x.getAs[Long]("n_whitespace"), x.getAs[Double]("ascii_ratio")))).toMap
    assert(r("dirty") === ((10L, 1L, 1L, 2L, 2L, 0.8)))
    assert(r("clean") === ((20L, 0L, 0L, 0L, 2L, 1.0)))
    assert(!r.contains("empty"))
  }

  test("sourceScorecard: mirror sources fail on dup ratio, PII counted, token-less sources score null") {
    val docs = Seq(
      (0L, "catalyst tungsten codegen shuffle partition broadcast executor", "good"),
      (1L, "lineage checkpoint watermark stateful aggregate window join", "good"),
      (2L, "the the the same mirrored page body here", "mirror"),
      (3L, "the the the same mirrored page body here", "mirror"),
      (4L, "another page with mail to a.b@example.org inside", "mirror"),
      (5L, "", "blank")
    ).toDF("doc_id", "text", "source")
    val r = TextOps.sourceScorecard(docs).collect()
      .map(x => x.getAs[String]("source") ->
        ((x.getAs[Long]("n_docs"), x.getAs[Long]("n_dup"), x.getAs[Long]("n_pii"),
          Option(x.get(x.fieldIndex("mean_quality"))),
          x.getAs[Double]("dup_ratio"), x.getAs[Boolean]("keep")))).toMap
    assert(r("good")._1 === 2L && r("good")._2 === 0L && r("good")._6 === true)
    assert(r("mirror") === ((3L, 2L, 1L, r("mirror")._4, 0.666667, false)),
      "two of three docs are exact copies -> dup gate fails the source")
    assert(r("blank")._4.isEmpty && r("blank")._6 === false,
      "a source with no scorable docs gets a null mean and keep = false")
  }

  test("tokenBudgetPlan: sqrt-temperature weights over token shares; oversampled domains flagged") {
    val docs = Seq(
      (0L, Seq.fill(900)("tok").mkString(" "), "en"),
      (1L, Seq.fill(100)("tok").mkString(" "), "de")
    ).toDF("doc_id", "text", "lang")
    val r = TextOps.tokenBudgetPlan(docs, budget = 1000L).collect()
      .map(x => x.getAs[String]("lang") ->
        ((x.getAs[Long]("n_tokens"), x.getAs[Double]("share"),
          x.getAs[Double]("weight"), x.getAs[Long]("alloc_tokens"),
          x.getAs[Long]("epochs_milli"), x.getAs[Boolean]("oversampled")))).toMap
    // sqrt(0.9) : sqrt(0.1) = 3 : 1 exactly
    assert(r("en") === ((900L, 0.9, 0.75, 750L, 833L, false)))
    assert(r("de") === ((100L, 0.1, 0.25, 250L, 2500L, true)),
      "a 10% domain at T=2 gets 25% of the budget -> 2.5 epochs of repetition")
  }

  test("qualityKappa: three pair rows, bounded kappa, constant raters read 0") {
    // short docs: gopher fails everything (<50 words) and every text
    // is below 300 chars, so classifier labels are all 0 — two
    // constant raters force the chance2 = n^2 branch on their pair
    val d = (0L until 8L).map { i =>
      val text = (1 to 12).map(j => s"w${(i + j) % 7}").mkString(" ")
      (i, text, text.length.toLong)
    }.toDF("doc_id", "text", "n_chars")
    val r = TextOps.qualityKappa(d).collect()
    assert(r.length === 3)
    assert(r.map(x => (x.getAs[String]("rater_a"), x.getAs[String]("rater_b"))).toSet
      === Set(("heuristic", "gopher"), ("heuristic", "classifier"),
        ("gopher", "classifier")))
    r.foreach { x =>
      assert(x.getAs[Long]("n_docs") === 8L)
      assert(x.getAs[Long]("n_agree") <= 8L)
      val k = x.getAs[Double]("kappa")
      assert(k >= -1.0 && k <= 1.0)
    }
    // gopher says no to every 12-word doc
    val g = r.find(x => x.getAs[String]("rater_a") == "heuristic" &&
      x.getAs[String]("rater_b") == "gopher").get
    assert(g.getAs[Long]("n_yes_b") === 0L)
  }

  test("scalingCurve: nested levels double, loss falls with data, one fit") {
    // 200 identical docs: the LM only improves through shrinking
    // Laplace mass, so held-out loss must fall monotonically as the
    // train subset doubles — the clean scaling-law direction
    val d = (0L until 200L).map(i => (i, "t0 t1 t2 t3 t4"))
      .toDF("doc_id", "text")
    val r = TextOps.scalingCurve(d).collect().sortBy(_.getAs[Long]("level"))
    assert(r.length === 4)
    assert(r.map(_.getAs[Long]("level")).toSeq === Seq(1L, 2L, 3L, 4L))
    val n = r.map(_.getAs[Long]("n_train_tok"))
    assert(n.sliding(2).forall(p => p(0) < p(1)), "each level adds train tokens")
    val loss = r.map(_.getAs[Double]("loss"))
    assert(loss.forall(_ > 0.0))
    assert(loss.sliding(2).forall(p => p(0) >= p(1)),
      "identical docs: more data strictly shrinks the smoothing penalty")
    // the fit is one (alpha, E, A) triple replicated on every level row
    assert(r.map(x => (x.getAs[Double]("alpha_hat"), x.getAs[Double]("e_hat"),
      x.getAs[Double]("a_hat"))).distinct.length === 1)
    val a = r.head.getAs[Double]("alpha_hat")
    assert(a >= 0.05 && a <= 1.0)
    assert(r.head.getAs[Double]("a_hat") > 0.0,
      "loss falls with N, so the N^(-alpha) coefficient is positive")
  }

  test("bpeLoop: localized fast path is bit-identical to the distributed loop") {
    // mixed ties + the overlapping-run case, so the argmax order and
    // the wrapped-replace semantics are both exercised
    val docs = Seq((0L, "low lower low lowest"), (1L, "aaaa abab low"),
      (2L, "zz zz yy xy")).toDF("doc_id", "text")
    val (mL, wL, cL) = TextOps.bpeLoop(docs, rounds = 12, censusEvery = 4)
    val (mD, wD, cD) = TextOps.bpeLoop(docs, rounds = 12, censusEvery = 4,
      localizeThreshold = 0)
    assert(mL === mD)
    assert(cL === cD)
    val enc = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy("syms").as[(Long, String)].collect().toSeq
    assert(enc(wL) === enc(wD))
  }

  /** nbLangFeatures as written before per-row bucketing, kept as the
    * parity reference: (doc, trigram) counts, each distinct trigram
    * hashed once and joined back, then summed per (doc, bucket). */
  private def nbLangFeaturesJoinBack(docs: DataFrame, nBuckets: Int): DataFrame = {
    val grams = docs
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"),
        explode(when(length(col("t")) >= 3,
          sequence(lit(1), length(col("t")) - 2)).otherwise(array()))
          .as("i"), col("t"))
      .select(col("doc_id"), expr("substring(t, i, 3)").as("g"))
    val tf = grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("tf"))
    val vocab = tf.select(col("g")).distinct()
      .withColumn("b", PortableHash.bucket(col("g"), nBuckets))
    tf.join(vocab, "g")
      .groupBy(col("doc_id"), col("b")).agg(sum(col("tf")).as("tf"))
  }

  test("nbLangFeatures equals the join-back formulation row for row (2 buckets force collisions)") {
    val d = ParityDocs(spark)
    for (nb <- Seq(2, 4096))
      assertSameRows(TextOps.nbLangFeatures(d, nb), nbLangFeaturesJoinBack(d, nb))
    val ids = TextOps.nbLangFeatures(d, 2).select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(6L) && !ids.contains(3L) && !ids.contains(2L),
      "text shorter than 3 chars, null and empty text have no trigram")
  }
}
