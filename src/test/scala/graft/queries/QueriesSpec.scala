package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.{spark, sf0001}

/** Sanity per-query checks at sf0.001. The real correctness gate is the
  * DuckDB oracle at sf0.01 (tools/check_oracle.py); this suite guards the
  * basics cheaply in sbt test: every query runs, is non-empty where it must
  * be, and a few hand-computed values hold.
  */
class QueriesSpec extends AnyFunSuite {

  test("every registered query executes at sf0.001") {
    Registry.all.foreach { q =>
      val n = q.fn(spark, sf0001).count()
      assert(n >= 0, s"${q.name} failed to run")
    }
  }

  test("every oracle-bearing query has deterministic output (run twice, same rows)") {
    Registry.all.filter(_.oracle.isDefined).foreach { q =>
      val a = q.fn(spark, sf0001).collect().map(_.toString).toSeq
      val b = q.fn(spark, sf0001).collect().map(_.toString).toSeq
      assert(a == b, s"${q.name} nondeterministic")
    }
  }

  test("q19 DQ summary counts are internally consistent") {
    val row = Registry.byName("q19_events_dq_summary").fn(spark, sf0001).collect()(0)
    val total = row.getAs[Long]("n_total")
    assert(total == 1000L)
    assert(row.getAs[Long]("n_error_type") > 0)
    assert(row.getAs[Long]("n_negative_value") == 0)
  }

  test("q24 exact dedup: keep_id count equals distinct texts") {
    val dedup = Registry.byName("q24_docs_dedup_exact").fn(spark, sf0001)
    val distinctTexts = graft.Tables.documents(spark, sf0001)
      .select("text").distinct().count()
    assert(dedup.count() == distinctTexts)
  }

  test("q104 full-outer coverage: sf0.001 has both matched and gap rows, counts conserve") {
    val rows = Registry.byName("q104_nation_coverage").fn(spark, sf0001).collect()
    assert(rows.exists(_.getAs[Long]("coverage_gap") == 0L), "no matched nation")
    assert(rows.exists(_.getAs[Long]("coverage_gap") == 1L), "no one-sided nation")
    assert(rows.map(_.getAs[Long]("n_cust")).sum ==
      graft.Tables.customer(spark, sf0001).count())
    assert(rows.map(_.getAs[Long]("n_supp")).sum ==
      graft.Tables.supplier(spark, sf0001).count())
  }

  test("q105 unigram freq: token mass conserves and per-doc bounds hold") {
    val rows = Registry.byName("q105_docs_unigram_freq").fn(spark, sf0001).collect()
    val tokenTotal = graft.Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " "))).count()
    // every token occurrence scores exactly once
    assert(rows.map(_.getAs[Long]("n_toks")).sum == tokenTotal)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_uniq") <= r.getAs[Long]("n_toks"))
      assert(r.getAs[Long]("min_freq") <= r.getAs[Long]("max_freq"))
      // sum_freq of n_toks draws each bounded by the per-doc extremes
      assert(r.getAs[Long]("sum_freq") >= r.getAs[Long]("n_toks") * r.getAs[Long]("min_freq"))
      assert(r.getAs[Long]("sum_freq") <= r.getAs[Long]("n_toks") * r.getAs[Long]("max_freq"))
    }
  }

  test("q106 source overlap: canonical pair order, positive counts, symmetric rebuild") {
    val rows = Registry.byName("q106_source_overlap").fn(spark, sf0001).collect()
    assert(rows.nonEmpty, "sf0.001 corpus has cross-source shingle overlap")
    rows.foreach { r =>
      assert(r.getAs[String]("source_a") < r.getAs[String]("source_b"))
      assert(r.getAs[Long]("n_shared") > 0L)
    }
    // n_shared is bounded by either side's distinct shingle count
    val shCounts = {
      import org.apache.spark.sql.functions._
      graft.Tables.documents(spark, sf0001)
        .select(col("source"), split(col("text"), " ").as("t"))
        .select(col("source"),
          explode(when(size(col("t")) >= 8, sequence(lit(1), size(col("t")) - 7))
            .otherwise(array().cast("array<int>"))).as("i"),
          col("t"))
        .select(col("source"), concat_ws(" ", slice(col("t"), col("i"), lit(8))).as("sh"))
        .distinct().groupBy("source").count()
        .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    }
    rows.foreach { r =>
      val bound = math.min(shCounts(r.getAs[String]("source_a")),
        shCounts(r.getAs[String]("source_b")))
      assert(r.getAs[Long]("n_shared") <= bound)
    }
  }

  test("q107 union decisions: one longest keeper per component; union only merges q87/q88 groups") {
    val rows = Registry.byName("q107_union_dedup_decisions").fn(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("component")).values.foreach { g =>
      assert(g.count(_.getAs[Long]("keep") == 1L) == 1, "exactly one keeper")
      val kept = g.find(_.getAs[Long]("keep") == 1L).get
      assert(kept.getAs[Long]("n_chars_doc") == g.map(_.getAs[Long]("n_chars_doc")).max,
        "keeper is a longest doc in its component")
    }
    // adding edges can only MERGE groups: docs sharing a q87 (text) or q88
    // (semantic) component must share a q107 component
    val comp107 = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    Seq("q87_dedup_components" -> "doc_id", "q88_semantic_dedup_decisions" -> "vec_id")
      .foreach { case (qn, idCol) =>
        Registry.byName(qn).fn(spark, sf0001).collect()
          .groupBy(_.getAs[Long]("component")).values.foreach { g =>
            val mapped = g.map(r => comp107(r.getAs[Long](idCol))).distinct
            assert(mapped.size == 1, s"$qn component split in q107")
          }
      }
  }

  test("q108 profile: single scan, consistent totals, event_id unique") {
    val df = Registry.byName("q108_events_profile").fn(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(plan).length == 1, "profiler must read the input once")
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("n_rows")).distinct.length == 1)
    val eid = rows.find(_.getAs[String]("col_name") == "event_id").get
    assert(eid.getAs[Long]("n_null") == 0L)
    assert(eid.getAs[Long]("n_distinct") == eid.getAs[Long]("n_rows"))
  }

  test("q29 cosine top-k returns 10 neighbors with sims in [-1,1] descending") {
    val rows = Registry.byName("q29_cosine_topk").fn(spark, sf0001).collect()
    assert(rows.length == 10)
    val sims = rows.map(_.getAs[Double]("cos_sim"))
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(!rows.map(_.getAs[Long]("vec_id")).contains(0L))
  }

  test("q110 BPE pairs: matches a driver-side brute-force recount exactly") {
    val got = Registry.byName("q110_bpe_pair_counts").fn(spark, sf0001).collect()
      .map(r => (r.getAs[String]("l"), r.getAs[String]("r"), r.getAs[Long]("cnt")))
      .toSeq
    val texts = graft.Tables.documents(spark, sf0001)
      .select("text").collect().map(_.getString(0))
    val brute = texts
      .flatMap(t => { val w = t.split(" ", -1); w.dropRight(1).zip(w.drop(1)) })
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((l, r), c) => (l, r, c) }
      .sortBy { case (l, r, c) => (-c, l, r) }
      .take(100)
    assert(got == brute)
  }

  test("q131 BM25: matches a driver-side brute-force recount exactly") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val terms = Seq("spark", "merge", "window")
    val nD = docs.length.toLong
    val totDl = docs.map(_._2.length.toLong).sum
    val dfm = terms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    // same IEEE tree as bm25Micros: idf * tf * 2.2 / (tf + 1.2*(0.25 + 0.75*dl/avgdl))
    val brute = docs.flatMap { case (id, ws) =>
      val dl = ws.length.toLong
      val hits = terms.map(t => t -> ws.count(_ == t).toLong).filter(_._2 > 0)
      if (hits.isEmpty) None
      else {
        val score = hits.map { case (t, tf) =>
          val df = dfm(t)
          math.floor(math.log(1 + (nD.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5)) *
            tf.toDouble * 2.2 /
            (tf.toDouble + 1.2 * (0.25 + 0.75 * dl.toDouble / (totDl.toDouble / nD.toDouble))) *
            1000000 + 0.5).toLong
        }.sum
        Some((id, hits.length.toLong, score))
      }
    }.sortBy { case (id, _, s) => (-s, id) }.take(20).toSeq
    val got = Registry.byName("q131_bm25_topk").fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == brute)
  }

  test("q133 bigram LM: matches a driver-side brute-force recount; en outscores zh per bigram") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).toSeq))
    val enBgs = docs.filter(_._2 == "en")
      .flatMap(d => d._3.dropRight(1).zip(d._3.drop(1)))
    val c12 = enBgs.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap.withDefaultValue(0L)
    val c1 = enBgs.groupBy(_._1).view.mapValues(_.length.toLong)
      .toMap.withDefaultValue(0L)
    val vSz = docs.filter(_._2 == "en").flatMap(_._3).distinct.length.toLong
    val expected = docs.flatMap { case (id, _, ws) =>
      val bgs = ws.dropRight(1).zip(ws.drop(1))
      if (bgs.isEmpty) None
      else Some((id, (bgs.length.toLong, bgs.map { bg =>
        math.floor(math.log((c12(bg) + 1).toDouble / (c1(bg._1) + vSz).toDouble) *
          1000000 + 0.5).toLong
      }.sum)))
    }.toMap
    val got = Registry.byName("q133_bigram_lm_score").fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
    // the model is fitted on en: per-bigram mean log-prob must rank en above zh
    def meanPerBigram(lang: String): Double = {
      val xs = docs.filter(_._2 == lang).flatMap(d => got.get(d._1))
      xs.map(_._2).sum.toDouble / xs.map(_._1).sum
    }
    assert(meanPerBigram("en") > meanPerBigram("zh"),
      s"en=${meanPerBigram("en")} zh=${meanPerBigram("zh")}")
  }

  test("q111 SCD2: intervals chain, versions consecutive, one current row per user") {
    val rows = Registry.byName("q111_user_status_history").fn(spark, sf0001).collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, hs) =>
      val sorted = hs.sortBy(_.getAs[Long]("version"))
      assert(sorted.map(_.getAs[Long]("version")).toSeq == (1L to hs.length).toSeq,
        s"user $u versions not consecutive")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to_us") == b.getAs[Long]("valid_from_us"),
            s"user $u intervals do not chain")
          assert(a.getAs[String]("status") != b.getAs[String]("status"),
            s"user $u has consecutive identical statuses — change filter broken")
        case _ => ()
      }
      assert(sorted.count(_.getAs[Long]("is_current") == 1L) == 1, s"user $u current rows != 1")
      assert(sorted.last.isNullAt(sorted.last.fieldIndex("valid_to_us")),
        s"user $u last interval not open")
    }
    // every event-owning user appears
    assert(byUser.size ==
      graft.Tables.events(spark, sf0001).select("user_id").distinct().count())
  }

  test("q114 epoch mixing: copies per doc equal the recomputed ceil factor, capped") {
    val rows = Registry.byName("q114_epoch_mixing").fn(spark, sf0001).collect()
    val langCounts = graft.Tables.documents(spark, sf0001)
      .groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val maxDocs = langCounts.values.max
    val expectedFactor = langCounts.map { case (l, n) =>
      l -> math.min((maxDocs + n - 1) / n, 4L)
    }
    // per-doc copy count matches the factor for its language and copy_idx is 1..factor
    rows.groupBy(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"))).foreach {
      case ((id, lang), copies) =>
        assert(copies.length.toLong == expectedFactor(lang), s"doc $id")
        assert(copies.map(_.getAs[Long]("copy_idx")).sorted.toSeq ==
          (1L to copies.length).toSeq, s"doc $id copy_idx not 1..n")
    }
    assert(rows.length.toLong ==
      langCounts.map { case (l, n) => n * expectedFactor(l) }.sum)
    // the dominant language is never repeated
    val dominant = langCounts.maxBy(_._2)._1
    assert(expectedFactor(dominant) == 1L)
    // and at least one language IS up-sampled, else the fixture is degenerate
    assert(expectedFactor.values.exists(_ > 1L), "all factors 1 — explode untested")
  }

  test("q115 vocab coverage: OOV bounded by token count, permille is floor division") {
    val rows = Registry.byName("q115_vocab_coverage").fn(spark, sf0001).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (n, oov, pm) = (r.getAs[Long]("n_toks"), r.getAs[Long]("n_oov"),
        r.getAs[Long]("oov_permille"))
      assert(oov >= 0 && oov <= n)
      assert(pm == oov * 1000 / n)
    }
    // a 256-token vocab over a Zipf-ish corpus must leave SOME docs with
    // OOV tokens and cover others well — both sides non-degenerate
    assert(rows.exists(_.getAs[Long]("n_oov") > 0))
    assert(rows.map(_.getAs[Long]("n_oov")).sum <
      rows.map(_.getAs[Long]("n_toks")).sum, "vocab covered nothing")
  }

  test("q116 trailing features: matches a driver-side brute-force window recount") {
    val rows = Registry.byName("q116_trailing_features").fn(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("t_us"), r.getAs[Long]("n_1h"), r.getAs[Long]("cents_1h")))
    val byUser = rows.groupBy(_._1)
    // independent per-event cents lookup (not the query's own output)
    val cents = graft.Tables.events(spark, sf0001)
      .selectExpr("event_id", "CAST(floor(value * 100.0D + 0.5D) AS BIGINT) AS c")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (u, _, t, n1h, c1h) =>
      val window = byUser(u).filter(e => e._3 >= t - 3600000000L && e._3 <= t)
      assert(window.length.toLong == n1h, s"user $u t $t count")
      assert(window.map(e => cents(e._2)).sum == c1h, s"user $u t $t sum")
    }
  }

  test("q113 packing waste: docs conserve and waste complements fill per bucket") {
    val rows = Registry.byName("q113_packing_waste").fn(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.Tables.documents(spark, sf0001).count())
    rows.foreach { r =>
      val cap = r.getAs[Long]("cap")
      assert((cap & (cap - 1)) == 0L, s"cap $cap not a power of two")
      assert(cap * r.getAs[Long]("n_docs") - r.getAs[Long]("sum_tok") ==
        r.getAs[Long]("pad_waste"))
      val fill = r.getAs[Long]("fill_permille")
      assert(fill > 0 && fill <= 1000)
    }
  }

  test("q117 anomaly screen: p99 is a data value with ~1% above, broadcast in plan") {
    val df = Registry.byName("q117_value_anomaly").fn(spark, sf0001)
    val cents = graft.Tables.events(spark, sf0001)
      .filter("value IS NOT NULL")
      .selectExpr("event_type", "CAST(floor(value * 100.0D + 0.5D) AS BIGINT) AS c")
      .collect().map(r => r.getString(0) -> r.getLong(1))
    df.collect().foreach { r =>
      val t = r.getAs[String]("event_type")
      val vals = cents.filter(_._1 == t).map(_._2).sorted
      val p99 = r.getAs[Long]("p99_cents")
      assert(vals.contains(p99), s"$t p99 not an actual data value")
      // percentile_disc(q) = value at rank ceil(q*n): recount independently
      val target = (vals.length * 99 + 99) / 100 // ceil(0.99*n) in integers
      assert(p99 == vals(target - 1), s"$t p99 rank pick")
      assert(r.getAs[Long]("n") == vals.length.toLong)
      assert(r.getAs[Long]("n_above") == vals.count(_ > p99).toLong)
      assert(r.getAs[Long]("max_cents") == vals.max)
    }
    // the threshold frame must come back as a broadcast, not a shuffle join
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("q118 rolling active users: WAU >= DAU, and WAU recounts brute-force") {
    val rows = Registry.byName("q118_rolling_active_users").fn(spark, sf0001).collect()
      .map(r => (r.getAs[java.sql.Date]("day").toLocalDate,
        r.getAs[Long]("dau"), r.getAs[Long]("wau")))
    assert(rows.nonEmpty)
    val du = graft.Tables.events(spark, sf0001)
      .filter("user_id IS NOT NULL")
      .selectExpr("CAST(ts AS DATE) AS day", "user_id").distinct()
      .collect().map(r => (r.getAs[java.sql.Date]("day").toLocalDate, r.getLong(1)))
    rows.foreach { case (day, dau, wau) =>
      assert(wau >= dau, s"$day wau < dau")
      val brute = du.filter { case (d, _) =>
        !d.isAfter(day) && !d.isBefore(day.minusDays(6))
      }.map(_._2).distinct.length.toLong
      assert(wau == brute, s"$day wau brute-force recount")
      assert(dau == du.count(_._1 == day).toLong, s"$day dau recount")
    }
  }

  test("q119 cohort retention: triangle recounts brute-force, week0 = cohort size") {
    val rows = Registry.byName("q119_cohort_retention").fn(spark, sf0001).collect()
      .map(r => (r.getAs[java.sql.Date]("cohort_day").toLocalDate,
        r.getAs[Long]("week_idx"), r.getAs[Long]("n_users")))
    assert(rows.nonEmpty)
    val du = graft.Tables.events(spark, sf0001)
      .filter("user_id IS NOT NULL")
      .selectExpr("user_id", "CAST(ts AS DATE) AS day").distinct()
      .collect().map(r => (r.getLong(0), r.getAs[java.sql.Date]("day").toLocalDate))
    val firstSeen = du.groupBy(_._1).map { case (u, ds) => u -> ds.map(_._2).min(
      Ordering.by((d: java.time.LocalDate) => d.toEpochDay)) }
    // brute force: distinct (user, week) memberships per cohort
    val brute = du.map { case (u, day) =>
      val c0 = firstSeen(u)
      ((c0, java.time.temporal.ChronoUnit.DAYS.between(c0, day) / 7), u)
    }.distinct.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    assert(rows.length == brute.size)
    rows.foreach { case (c0, w, n) => assert(brute((c0, w)) == n, s"cohort $c0 week $w") }
    // week 0 of each cohort counts exactly its members (everyone is active
    // in their own first week by definition)
    val cohortSize = firstSeen.groupBy(_._2).map { case (d, m) => d -> m.size.toLong }
    rows.filter(_._2 == 0L).foreach { case (c0, _, n) => assert(n == cohortSize(c0)) }
  }

  /** Hand-built 5-doc corpus with engineered unigram frequencies and
    * cross-source 8-gram overlaps, written as a documents.parquet the
    * registered queries read like any scale dir. An independent plain-Scala
    * recount (the q110 standard) checks q105/q106 exactly; a few literal
    * expectations pin the engineered overlaps on top.
    */
  private lazy val microDir: String = {
    val common = (1 to 8).map(i => s"t$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$common a9", "en", "alpha"), // shares the t1..t8 shingle with 2 & 5
      (2L, s"$common b9", "en", "beta"),
      (3L, "u1 u2 u3 u4 u5 u6 u7", "en", "beta"), // 7 tokens: below shingle width
      (4L, "x y x z", "en", "gamma"), // freq: x twice here + once in doc 5
      (5L, s"x $common", "en", "gamma")) // 9 tokens: shingles t1..t8 and x t1..t7
    val dir = java.nio.file.Files.createTempDirectory("graft-micro").toString
    import graft.SparkTestSession.implicits._
    corpus.map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def microTokens: Map[Long, Seq[String]] = Map(
    1L -> s"${(1 to 8).map(i => s"t$i").mkString(" ")} a9",
    2L -> s"${(1 to 8).map(i => s"t$i").mkString(" ")} b9",
    3L -> "u1 u2 u3 u4 u5 u6 u7",
    4L -> "x y x z",
    5L -> s"x ${(1 to 8).map(i => s"t$i").mkString(" ")}")
    .map { case (k, v) => k -> v.split(" ", -1).toSeq }

  test("q105 unigram freq: exact brute-force recount on a hand-built micro-corpus") {
    val toks = microTokens
    val freq = toks.values.flatten.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val expected = toks.map { case (id, ts) =>
      id -> (ts.size.toLong, ts.distinct.size.toLong,
        ts.map(freq).sum, ts.map(freq).min, ts.map(freq).max)
    }
    val got = Registry.byName("q105_docs_unigram_freq").fn(spark, microDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("n_uniq"), r.getAs[Long]("sum_freq"),
          r.getAs[Long]("min_freq"), r.getAs[Long]("max_freq"))).toMap
    assert(got == expected)
    // engineered landmark: x appears 3 times corpus-wide, so doc 4 (x y x z)
    // sums 3+1+3+1 = 8 with extremes {1, 3}
    assert(got(4L) == ((4L, 3L, 8L, 1L, 3L)))
  }

  test("q106 source overlap: exact brute-force recount on a hand-built micro-corpus") {
    val shingles = microTokens.toSeq
      .map { case (id, ts) => microSource(id) -> ts }
      .groupBy(_._1)
      .map { case (src, docs) =>
        src -> docs.flatMap { case (_, ts) =>
          if (ts.size >= 8) ts.sliding(8).map(_.mkString(" ")).toSeq else Seq.empty
        }.toSet
      }
    val expected = (for {
      a <- shingles.keys; b <- shingles.keys if a < b
      n = (shingles(a) & shingles(b)).size if n > 0
    } yield (a, b) -> n.toLong).toMap
    val got = Registry.byName("q106_source_overlap").fn(spark, microDir).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Long]("n_shared")).toMap
    assert(got == expected)
    // engineered landmarks: the t1..t8 window is the only cross-source
    // shingle, shared by all three source pairs; doc 3 (7 tokens) and the
    // offset x-prefixed windows contribute nothing
    assert(got == Map(("alpha", "beta") -> 1L, ("alpha", "gamma") -> 1L,
      ("beta", "gamma") -> 1L))
  }

  private def microSource(id: Long): String = id match {
    case 1L => "alpha"
    case 2L | 3L => "beta"
    case _ => "gamma"
  }

  test("q134 split leakage: exactly the q30 pairs whose q73 splits differ") {
    val splits = Registry.byName("q73_docs_train_split").fn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val pairs = Registry.byName("q30_docs_shingle_jaccard").fn(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    assert(pairs.nonEmpty)
    val expected = pairs
      .filter { case (a, b, _) => splits(a) != splits(b) }
      .map { case (a, b, j) => (a, b, j, splits(a), splits(b)) }.toSet
    val got = Registry.byName("q134_split_leakage").fn(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"),
        r.getAs[String]("split_a"), r.getAs[String]("split_b"))).toSet
    assert(got == expected)
    assert(got.forall { case (_, _, _, sa, sb) => sa != sb })
  }

  test("q135 char entropy: exact driver-side recount over every sf0.001 doc") {
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    def recount(text: String): (Long, Long, Long) = {
      val chars = text.split("")
      val n = chars.length.toLong
      val counts = chars.groupBy(identity).map(_._2.length.toLong)
      // same IEEE tree as charEntropyMicros: ((-(c/n)) * ln(c/n)) * 1e6 + 0.5
      val micros = counts.map { c =>
        val p = c.toDouble / n.toDouble
        math.floor(-p * math.log(p) * 1000000 + 0.5).toLong
      }.sum
      (n, counts.size.toLong, micros)
    }
    val got = Registry.byName("q135_char_entropy").fn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_ch"),
        r.getAs[Long]("n_distinct_ch"), r.getAs[Long]("entropy_micros"))).toMap
    assert(got.keySet == docs.keySet)
    got.foreach { case (id, triple) =>
      assert(triple == recount(docs(id)), s"doc $id")
      // entropy <= ln(|alphabet|), plus <=1 micro rounding slack per term
      val (_, k, e) = triple
      assert(e <= math.ceil(math.log(k.toDouble) * 1000000).toLong + k)
    }
  }

  test("q136 training order: deterministic permutation — contiguous per shard, hash-consistent") {
    val rows = Registry.byName("q136_training_order").fn(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Long]("ord_key"), r.getAs[Long]("pos")))
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet == docs) // every doc scheduled exactly once
    assert(rows.map(r => (r._2, r._4)).distinct.length == rows.length)
    rows.groupBy(_._2).foreach { case (sh, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1L to rs.length).toSeq,
        s"shard $sh positions not contiguous")
      assert(rs.sortBy(_._4).map(_._1).toSeq ==
        rs.sortBy(r => (r._3, r._1)).map(_._1).toSeq,
        s"shard $sh order does not follow (ord_key, doc_id)")
    }
    rows.foreach { case (id, sh, ok, _) =>
      // shard reduces mod a ~2^31 prime BEFORE mod 16 (r8 advice #3: an
      // odd multiplier mod a power of two only permutes doc_id mod 16)
      assert(sh == math.floorMod(math.floorMod(id * 2654435761L, 2147483629L), 16L))
      assert(ok == math.floorMod(id * 2246822519L, 2147483629L))
    }
  }

  test("q137 dup-ngram fraction: brute-force recount on the micro-corpus") {
    val grams = microTokens.map { case (id, ts) =>
      id -> (if (ts.size >= 8) ts.sliding(8).map(_.mkString(" ")).toSet
             else Set.empty[String])
    }
    val df = grams.values.flatten.groupBy(identity).map { case (g, xs) => g -> xs.size }
    val expected = grams.collect { case (id, gs) if gs.nonEmpty =>
      val dup = gs.count(g => df(g) >= 2).toLong
      id -> (gs.size.toLong, dup, dup * 1000 / gs.size)
    }
    val got = Registry.byName("q137_dup_ngram_fraction").fn(spark, microDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_dup_grams"), r.getAs[Long]("dup_permille"))).toMap
    assert(got == expected)
    // engineered landmark: docs 1, 2, 5 share exactly the t1..t8 window —
    // each has 2 grams, 1 duplicated => 500 permille; docs 3 and 4 are
    // below gram width and drop out
    assert(got == Map(1L -> ((2L, 1L, 500L)), 2L -> ((2L, 1L, 500L)),
      5L -> ((2L, 1L, 500L))))
  }

  test("q138 dedup report: histogram recounts q87's components and conserves doc totals") {
    val comps = Registry.byName("q87_dedup_components").fn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component"))
    val expected = comps.groupBy(_._2).map(_._2.size.toLong)
      .groupBy(identity).map { case (sz, xs) =>
        sz -> (xs.size.toLong, sz * xs.size, (sz - 1) * xs.size)
      }
    val got = Registry.byName("q138_dedup_report").fn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("sz") -> (r.getAs[Long]("n_components"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_removed"))).toMap
    assert(got == expected)
    assert(got.map { case (sz, (_, nd, _)) => nd }.sum == comps.length,
      "histogram does not conserve the docs-in-components total")
    assert(got.keys.forall(_ >= 2), "a component of size 1 cannot arise from a pair list")
  }

  test("q139 uniform sample: exactly the 200 smallest hash priorities, reproducible") {
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id")
      .collect().map(_.getLong(0))
    val expected = docs
      .map(id => (math.floorMod(id * 3266489917L, 2147483629L), id))
      .sorted.take(200).map { case (pri, id) => (id, pri) }.toSeq
    val got = Registry.byName("q139_uniform_sample").fn(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pri"))).toSeq
    assert(got.size == 200)
    assert(got.sortBy(_._2).map(_._1).toSet == expected.map(_._1).toSet)
    assert(got.toSet == expected.toSet)
    // top-k must plan as TakeOrderedAndProject, never a global sort (q14's pin)
    val plan = Registry.byName("q139_uniform_sample").fn(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q140 source quality report: recounts from q135 entropy and token counts") {
    val ent = Registry.byName("q135_char_entropy").fn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("entropy_micros")).toMap
    val docs = graft.Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "source", "CAST(size(split(text, ' ')) AS LONG) AS n_tok")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"), r.getAs[Long]("n_tok")))
    val expected = docs.groupBy(_._2).map { case (src, xs) =>
      val n = xs.size.toLong
      val tot = xs.map(_._3).sum
      val sumEnt = xs.map(x => ent(x._1)).sum
      src -> (n, tot, tot / n, sumEnt / n)
    }
    val got = Registry.byName("q140_source_quality_report").fn(spark, sf0001).collect()
      .map(r => r.getAs[String]("source") -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("tot_tok"), r.getAs[Long]("avg_tok"),
        r.getAs[Long]("avg_entropy_micros"))).toMap
    assert(got == expected)
  }

  test("q127 span dedup: brute-force recount; unaligned 48-run caught, 47-run not") {
    val a = (1 to 60).map(i => s"a$i")
    val corpus = Map(
      1L -> a,                                                      // the source run
      2L -> ((1 to 20).map(i => s"u$i") ++ a.slice(4, 52) ++        // a5..a52 at offset 21:
        (1 to 5).map(i => s"v$i")),                                 //   48-run, unaligned
      3L -> ((1 to 10).map(i => s"w$i") ++ a.take(47) ++            // 47-run: one short,
        (1 to 10).map(i => s"x$i")),                                //   must NOT fire
      4L -> a,                                                      // exact copy of 1
      5L -> (1 to 10).map(i => s"s$i"))                             // shorter than W
    val dir = java.nio.file.Files.createTempDirectory("graft-span").toString
    import graft.SparkTestSession.implicits._
    corpus.toSeq.map { case (id, ts) =>
      (id, ts.mkString(" "), "en", microSource(id), ts.mkString(" ").length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent recount on raw window STRINGS (no hashing)
    val posts = corpus.toSeq.flatMap { case (id, ts) =>
      val starts = 1 to math.max(ts.size - 47, 1)
      starts.map(i => (ts.slice(i - 1, i - 1 + 48).mkString(" "), id * 1048576L + i))
    }
    val winner = posts.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).min }
    val expected = posts.groupBy(_._2 / 1048576L).map { case (id, xs) =>
      val shared = xs.filter { case (k, ord) => ord > winner(k) }
      id -> ((xs.size.toLong, shared.size.toLong,
        if (shared.isEmpty) None else Some(shared.map(x => winner(x._1) / 1048576L).min)))
    }
    val got = Registry.byName("q127_span_dedup").fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_shared_spans"),
          Option(r.getAs[Any]("earliest_src_doc")).map(_.asInstanceOf[Long])))).toMap
    assert(got == expected)
    // engineered landmarks: the unaligned 48-run fires exactly once and
    // points at doc 1; the 47-run is invisible; the exact copy shares all
    // 13 windows; the short doc's single whole-text window is unique
    assert(got(2L) == ((26L, 1L, Some(1L))))
    assert(got(3L) == ((20L, 0L, None)))
    assert(got(4L) == ((13L, 13L, Some(1L))))
    assert(got(5L) == ((1L, 0L, None)))
  }

  /** Micro-corpus for the q131/q133 adversarial paths: "window" (a query
    * term) appears in NO document, so its df=0 branch must contribute
    * nothing rather than divide-by-zero or fabricate postings; doc 3 is a
    * non-en doc whose bigrams AND left words never occur in the en model
    * slice, so every one of its bigrams scores through pure Laplace
    * smoothing ln(1/(0+V)).
    */
  private lazy val lmDir: String = {
    val corpus = Seq(
      (1L, "spark spark merge alpha", "en", "alpha"),
      (2L, "alpha beta gamma", "en", "beta"),
      (3L, "zz qq zz qq", "fr", "beta"), // all bigrams unseen in en
      (4L, "merge beta merge spark beta", "en", "gamma"))
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    import graft.SparkTestSession.implicits._
    corpus.map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
  private val lmTokens: Map[Long, Seq[String]] = Map(
    1L -> "spark spark merge alpha", 2L -> "alpha beta gamma",
    3L -> "zz qq zz qq", 4L -> "merge beta merge spark beta")
    .map { case (k, v) => k -> v.split(" ", -1).toSeq }

  test("q131 BM25: brute-force recount; a query term absent from every doc (df=0) contributes nothing") {
    // plain-Scala mirror of bm25Micros — identical association order
    val toks = lmTokens
    val nDocs = toks.size.toDouble
    val totDl = toks.values.map(_.size).sum.toDouble
    val tf = toks.toSeq.flatMap { case (id, ts) =>
      ts.filter(DocQueries.bm25Terms.contains).groupBy(identity)
        .map { case (t, xs) => (id, t, xs.size) } }
    val dfc = tf.groupBy(_._2).map { case (t, xs) => t -> xs.size }
    assert(!dfc.contains("window"), "corpus must exercise the df=0 term")
    val expected = tf.groupBy(_._1).map { case (id, hits) =>
      val score = hits.map { case (_, t, k) =>
        val df = dfc(t).toDouble; val dl = toks(id).size.toDouble
        math.floor(math.log(1 + (nDocs - df + 0.5) / (df + 0.5)) * k * 2.2 /
          (k + 1.2 * (0.25 + 0.75 * dl / (totDl / nDocs))) * 1000000 + 0.5).toLong
      }.sum
      id -> ((hits.size.toLong, score))
    }
    val got = Registry.byName("q131_bm25_topk").fn(spark, lmDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_hit"), r.getAs[Long]("score_micros")))).toMap
    assert(got == expected)
    // docs 2 (no query terms) and 3 (non-en filler) must be absent
    assert(got.keySet == Set(1L, 4L))
  }

  test("q131 BM25: zero rows when no query term occurs anywhere in the corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lm0").toString
    import graft.SparkTestSession.implicits._
    Seq((1L, "alpha beta", "en", "alpha", 10L), (2L, "beta gamma", "en", "beta", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Registry.byName("q131_bm25_topk").fn(spark, dir).count() == 0)
  }

  test("q133 bigram LM: brute-force recount; unseen-everything doc scores pure smoothing ln(1/V)") {
    val toks = lmTokens
    def bigrams(ts: Seq[String]): Seq[String] =
      if (ts.size < 2) Seq.empty else ts.sliding(2).map(_.mkString("_")).toSeq
    val en = toks.filter { case (k, _) => Set(1L, 2L, 4L)(k) }
    val c12 = en.values.flatMap(bigrams).groupBy(identity).map { case (b, xs) => b -> xs.size }
    val c1 = en.values.flatMap(bigrams).map(_.split("_", -1).head)
      .groupBy(identity).map { case (w, xs) => w -> xs.size }
    val v = en.values.flatten.toSet.size
    val expected = toks.collect { case (id, ts) if ts.size >= 2 =>
      val perB = bigrams(ts).groupBy(identity).toSeq.map { case (b, xs) =>
        val contrib = math.floor(math.log(
          (c12.getOrElse(b, 0) + 1).toDouble / (c1.getOrElse(b.split("_", -1).head, 0) + v).toDouble)
          * 1000000 + 0.5).toLong
        (xs.size.toLong, contrib * xs.size)
      }
      id -> ((perB.map(_._1).sum, perB.map(_._2).sum))
    }
    val got = Registry.byName("q133_bigram_lm_score").fn(spark, lmDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("logp_micros")))).toMap
    assert(got == expected)
    // doc 3's bigrams and left words are all unseen in the en slice:
    // every bigram instance must score exactly floor(ln(1/V)*1e6 + 0.5)
    val pure = math.floor(math.log(1.0 / v) * 1000000 + 0.5).toLong
    assert(got(3L) == ((3L, 3L * pure)))
  }

  test("q141 PSI drift: driver-side recount, full domain, and identical-window zero") {
    import org.apache.spark.sql.functions._
    val rows = Registry.byName("q141_drift_psi").fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (0L until 20L), "full bucket domain, ordered")
    // driver-side recount straight from the parquet
    val ev = graft.Tables.events(spark, sf0001)
      .select(col("value"), dayofmonth(col("ts")).as("dom")).collect()
      .filter(!_.isNullAt(0)).map(r => (r.getDouble(0), r.getInt(1)))
    def hist(p: ((Double, Int)) => Boolean): Map[Long, Long] =
      ev.filter(p).groupBy { case (v, _) =>
        math.min(math.max(math.floor((v - 0.0) / 25.0), 0.0), 19.0).toLong
      }.map { case (b, xs) => b -> xs.length.toLong }
    val (rh, ch) = (hist(_._2 % 2 == 0), hist(_._2 % 2 == 1))
    val (pd, qd) = (rh.values.sum + 20.0, ch.values.sum + 20.0)
    rows.foreach { case (b, refN, curN, micros) =>
      assert(refN == rh.getOrElse(b, 0L) && curN == ch.getOrElse(b, 0L), s"bucket $b counts")
      val p = (refN + 1).toDouble / pd
      val q = (curN + 1).toDouble / qd
      assert(micros == math.floor((p - q) * math.log(p / q) * 1000000 + 0.5).toLong,
        s"bucket $b micros")
    }
    // sanity: PSI of a window against ITSELF is exactly zero
    val e = graft.Tables.events(spark, sf0001).filter(col("value").isNotNull)
    val self = graft.operators.Drift.bucketCounts(e, e, "value", 0.0, 500.0, 20)
      .select(expr(graft.queries.DriftQueries.psiMicros).as("m"))
      .agg(sum(col("m"))).collect()(0).getLong(0)
    assert(self == 0L, s"self-PSI must be 0, got $self")
  }

  test("q142 KS drift: driver-side exact recount and bounds") {
    import org.apache.spark.sql.functions._
    val r = Registry.byName("q142_drift_ks").fn(spark, sf0001).collect()
    assert(r.length == 1)
    val (ksNum, na, nb, micros) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3))
    val ev = graft.Tables.events(spark, sf0001)
      .select(col("event_type"), col("value")).collect()
      .filter(x => x.getString(0) == "purchase" || x.getString(0) == "view")
      .map(x => (math.floor(x.getDouble(1)).toLong, x.getString(0) == "purchase"))
    val grid = ev.groupBy(_._1).map { case (g, xs) =>
      (g, xs.count(_._2).toLong, xs.count(!_._2).toLong)
    }.toSeq.sortBy(_._1)
    val (ta, tb) = (grid.map(_._2).sum, grid.map(_._3).sum)
    assert((na, nb) == ((ta, tb)))
    var (cna, cnb, best) = (0L, 0L, 0L)
    grid.foreach { case (_, a, b) =>
      cna += a; cnb += b
      best = math.max(best, math.abs(cna * tb - cnb * ta))
    }
    assert(ksNum == best, "KS numerator mismatch vs driver recount")
    assert(micros == math.floor(
      ksNum.toDouble / (na.toDouble * nb.toDouble) * 1000000 + 0.5).toLong)
    assert(micros >= 0L && micros <= 1000000L, "D in [0,1]")
  }

  test("q143 eval decontam: planted 13-gram overlaps on engineered splits") {
    // bucket(id) = (61*id) mod 100 (2654435761 ≡ 61 mod 100), so id 95/36
    // land in the test split, 90 in val, single-digit ids in train.
    def toks(prefix: String, from: Int, to: Int) =
      (from to to).map(i => s"$prefix$i").mkString(" ")
    val e13 = toks("e", 1, 13)
    val corpus = Seq(
      (95L, toks("e", 1, 14)),               // test: grams e1..e13, e2..e14
      (36L, e13),                            // test: gram e1..e13 (again)
      (90L, s"$e13 v1 v2"),                  // val: carries the gram — excluded
      (1L, s"pre1 pre2 $e13 post1"),         // train: e1..e13 at window 3
      (2L, s"${toks("e", 1, 12)} q1 q2 q3"), // train: only a 12-token run
      (3L, toks("s", 1, 7)),                 // train: below gram width
      (4L, s"${toks("e", 2, 14)} z1 z2"),    // train: e2..e14 at window 1
      (5L, s"$e13 m1 $e13"))                 // train: same gram at windows 1 and 15
    val dir = java.nio.file.Files.createTempDirectory("graft-decontam").toString
    import graft.SparkTestSession.implicits._
    corpus.map { case (id, text) => (id, text, "en", "src", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.byName("q143_eval_decontam").fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams_hit"), r.getAs[Long]("n_eval_docs"),
          r.getAs[Long]("first_hit_pos"), r.getAs[Long]("last_hit_pos")))).toMap
    assert(got == Map(
      1L -> ((1L, 2L, 3L, 3L)),  // one gram, shared by BOTH eval docs
      4L -> ((1L, 1L, 1L, 1L)),  // eval 95's second gram only
      5L -> ((1L, 2L, 1L, 15L))), // distinct grams counted once, both spans kept
      s"decontam mismatch: $got")
    // the 12-token run (doc 2), the short doc (3), and the val doc (90)
    // must not appear; eval docs never appear on the train side
    assert(!got.keySet.exists(Set(2L, 3L, 90L, 95L, 36L)))
  }

  test("q144 soft dedup weights: q87 recount, mass conservation, singleton identity") {
    val comps = Registry.byName("q87_dedup_components").fn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    val szs = comps.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Registry.byName("q144_soft_dedup_weights").fn(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component"),
        r.getAs[Long]("group_sz"), r.getAs[Long]("weight_micros")))
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet == docs && got.length == docs.size,
      "every doc weighted exactly once")
    got.foreach { case (id, c, sz, w) =>
      comps.get(id) match {
        case Some(cc) => assert(c == cc && sz == szs(cc), s"doc $id component")
        case None => assert(c == id && sz == 1L && w == 1000000L, s"singleton $id")
      }
      assert(w == (1000000L + sz / 2) / sz, s"doc $id weight")
    }
    assert(comps.nonEmpty, "sf0.001 must exercise the non-singleton path")
    // each near-dup component's total mass is ~1.0: sz members of
    // round(1e6/sz) micros each — off by at most the rounding slack
    got.filter(r => comps.contains(r._1)).groupBy(_._2).foreach { case (c, rs) =>
      val mass = rs.map(_._4).sum
      assert(math.abs(mass - 1000000L) <= rs.length / 2 + 1, s"component $c mass $mass")
    }
  }

  // ---- shared vector helpers for the q145/q146 recounts (the VecDot
  // sequential-left-fold order, float→double element casts) ----
  private def vdot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def vcos(a: Array[Double], b: Array[Double]): Double =
    vdot(a, b) / (math.sqrt(vdot(a, a)) * math.sqrt(vdot(b, b)))
  private def embRows: Array[(Long, Array[Double], Int)] =
    graft.Tables.embeddings(spark, sf0001).collect().map { r =>
      (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray,
        r.getAs[Int]("label"))
    }

  test("q145 hard negatives: brute-force recount — band, labels, per-anchor top-5") {
    val embs = embRows
    val anchors = embs.filter(_._1 < 32)
    assert(anchors.nonEmpty)
    val expected = anchors.flatMap { case (aid, av, al) =>
      embs.filter(_._3 != al)
        .map { case (nid, nv, nl) => (nid, nl, vcos(nv, av)) }
        .filter(c => c._3 >= 0.25 && c._3 < 0.95)
        .sortBy(c => (-c._3, c._1))
        .take(5).zipWithIndex
        .map { case ((nid, nl, c), idx) => ((aid, idx + 1L), (nid, nl, c)) }
    }.toMap
    val got = Registry.byName("q145_hard_negatives").fn(spark, sf0001).collect()
      .map(r => ((r.getAs[Long]("anchor_id"), r.getAs[Long]("rk")),
        (r.getAs[Long]("neg_id"), r.getAs[Int]("neg_label"),
          r.getAs[Double]("cos_sim"))))
      .toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (nid, nl, c)) =>
      val (enid, enl, ec) = expected(k)
      assert(nid == enid && nl == enl, s"$k picked $nid, expected $enid")
      assert(math.abs(c - ec) < 1e-6, s"$k cos $c vs $ec")
    }
    assert(expected.nonEmpty, "band must be non-trivial at sf0.001")
    // every returned negative really crosses labels (re-checked from data)
    val labelOf = embs.map(e => e._1 -> e._3).toMap
    val anchorLabel = anchors.map(a => a._1 -> a._3).toMap
    got.foreach { case ((aid, _), (nid, _, _)) =>
      assert(labelOf(nid) != anchorLabel(aid), s"anchor $aid negative $nid shares label")
    }
  }

  test("q146 RRF hybrid: both legs and the fused integer arithmetic recount exactly") {
    // dense leg: brute cosine vs vec 0, top-100 rank
    val embs = embRows
    val qv = embs.find(_._1 == 0L).get._2
    val denseRank = embs.filter(_._1 != 0L)
      .map { case (id, v, _) => (id, vcos(v, qv)) }
      .sortBy(x => (-x._2, x._1)).take(100).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // lexical leg: the q131 BM25 recount shape over the fixed terms
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val terms = Seq("spark", "merge", "window")
    val nDocs = docs.length.toLong
    val totDl = docs.map(_._2.length.toLong).sum
    val tf = docs.flatMap { case (id, ws) =>
      ws.filter(terms.contains).groupBy(identity).map { case (t, xs) =>
        ((id, t), xs.length.toLong)
      }
    }.toMap
    val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val avgDl = totDl.toDouble / nDocs.toDouble
    val lexScores = tf.groupBy(_._1._1).map { case (id, m) =>
      id -> m.map { case ((_, t), f) =>
        math.floor(math.log(1 + (nDocs.toDouble - df(t).toDouble + 0.5) /
          (df(t).toDouble + 0.5)) * f.toDouble * 2.2 /
          (f.toDouble + 1.2 * (0.25 + 0.75 * docs.find(_._1 == id).get._2.length.toDouble /
            avgDl)) * 1000000 + 0.5).toLong
      }.sum
    }
    val lexRank = lexScores.toSeq.sortBy(x => (-x._2, x._1)).take(100)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // fuse
    val allIds = (lexRank.keySet ++ denseRank.keySet).toSeq
    val expected = allIds.map { id =>
      val rrf = lexRank.get(id).map(r => 1000000L / (60L + r)).getOrElse(0L) +
        denseRank.get(id).map(r => 1000000L / (60L + r)).getOrElse(0L)
      (id, lexRank.get(id), denseRank.get(id), rrf)
    }.sortBy(x => (-x._4, x._1)).take(20)
    val got = Registry.byName("q146_rrf_hybrid").fn(spark, sf0001).collect()
      .map { r =>
        (r.getAs[Long]("doc_id"),
          if (r.isNullAt(r.fieldIndex("rank_lex"))) None else Some(r.getAs[Long]("rank_lex")),
          if (r.isNullAt(r.fieldIndex("rank_dense"))) None else Some(r.getAs[Long]("rank_dense")),
          r.getAs[Long]("rrf_micros"))
      }.toSeq
    assert(got == expected)
    // both legs must actually contribute to the fused top-20
    assert(got.exists(_._2.isDefined) && got.exists(_._3.isDefined))
  }

  test("q148 NB classifier: exact driver-side refit and rescore; separates the gate classes") {
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val stop = Set("the", "a", "of", "and", "to", "in")
    def keepOf(ws: Seq[String]): Long = {
      val n = ws.length
      val fracStop = ws.count(stop).toDouble / n.toDouble
      val bgs = ws.dropRight(1).zip(ws.drop(1)).map { case (x, y) => s"${x}_$y" }
      val dup =
        if (bgs.isEmpty) Double.NaN
        else (bgs.length - bgs.distinct.length).toDouble / bgs.length.toDouble
      if (n >= 10 && n <= 5000 && fracStop >= 0.02 && !dup.isNaN && dup <= 0.2) 1L else 0L
    }
    val flags = docs.map { case (id, ws) => id -> keepOf(ws) }.toMap
    // the labels really are q75's gate
    val q75 = Registry.byName("q75_docs_quality_filter").fn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keep_flag")).toMap
    assert(flags == q75)
    // refit: per-token class counts over token INSTANCES
    val tf = docs.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (t, xs) => (id, t, xs.length.toLong) }
    }
    val posC = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val negC = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    tf.foreach { case (id, t, f) =>
      if (flags(id) == 1L) posC(t) += f else negC(t) += f
    }
    val vocab = tf.map(_._2).distinct
    val vSz = vocab.size.toLong
    val posTot = vocab.map(posC).sum
    val negTot = vocab.map(negC).sum
    val nPos = flags.values.count(_ == 1L).toLong
    val nNeg = flags.size.toLong - nPos
    val prior = math.floor((math.log((nPos + 1).toDouble / (nPos + nNeg + 2).toDouble) -
      math.log((nNeg + 1).toDouble / (nPos + nNeg + 2).toDouble)) * 1000000 + 0.5).toLong
    def tokMicros(t: String): Long =
      math.floor((math.log((posC(t) + 1).toDouble / (posTot + vSz).toDouble) -
        math.log((negC(t) + 1).toDouble / (negTot + vSz).toDouble)) * 1000000 + 0.5).toLong
    val expected = tf.groupBy(_._1).map { case (id, rows) =>
      id -> (rows.size.toLong, prior + rows.map { case (_, t, f) => f * tokMicros(t) }.sum)
    }
    val got = Registry.byName("q148_nb_quality_classifier").fn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_terms"), r.getAs[Long]("score_micros"), r.getAs[Long]("nb_keep")))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, (nTerms, score)) =>
      val (gn, gs, gk) = got(id)
      assert(gn == nTerms && gs == score, s"doc $id: ($gn,$gs) vs ($nTerms,$score)")
      assert(gk == (if (score > 0) 1L else 0L))
    }
    // the distilled classifier separates its training classes on average
    def meanScore(flag: Long): Double = {
      val xs = flags.collect { case (id, f) if f == flag => got(id)._2 }
      xs.sum.toDouble / xs.size
    }
    assert(meanScore(1L) > meanScore(0L),
      s"keep=${meanScore(1L)} drop=${meanScore(0L)}")
  }

  test("q151 calibration: confusion cells recount exactly from q148 x q75") {
    val nb = Registry.byName("q148_nb_quality_classifier").fn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("score_micros"), r.getAs[Long]("nb_keep"))).toMap
    val gate = Registry.byName("q75_docs_quality_filter").fn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keep_flag")).toMap
    val expected = nb.toSeq.groupBy { case (id, (_, k)) => (gate(id), k) }
      .map { case (cell, rs) =>
        cell -> (rs.size.toLong, rs.map(_._2._1).min, rs.map(_._2._1).max)
      }
    val got = Registry.byName("q151_nb_calibration").fn(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("gate_keep"), r.getAs[Long]("nb_keep")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("min_score"), r.getAs[Long]("max_score"))))
      .toMap
    assert(got == expected)
    assert(got.values.map(_._1).sum == nb.size.toLong, "cells partition the corpus")
  }

  test("q164 KMV: sub-K groups exact, merged ALL row equals a direct global sketch, estimates within KMV error") {
    val K = 64
    val M = 2147483629L
    val rows = Registry.byName("q164_kmv_distinct").fn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("month_key") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_sketch"),
          r.getAs[Long]("kth_hash"), r.getAs[Long]("est_distinct"))))
      .toMap
    assert(rows.contains(0L), "merged ALL row present")
    rows.foreach { case (mk, (exact, nSk, _, est)) =>
      // injectivity of the multiplicative-mod-prime hash for custkey < p:
      // a sub-K sketch saw every distinct key, so the estimate is EXACT
      if (nSk < K) assert(est == exact, s"month $mk: sub-K sketch not exact")
      // at K=64 the KMV relative standard error is ~1/sqrt(K-2) ~ 12.7%;
      // 4 sigma is a deterministic-data-safe acceptance band
      else assert(math.abs(est - exact).toDouble / exact < 0.51,
        s"month $mk: est $est vs exact $exact")
    }
    // merge correctness: the ALL row (built ONLY from the monthly
    // sketches) must equal the sketch a direct global pass computes
    val globalHashes = graft.Tables.orders(spark, sf0001)
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("o_custkey") *
          org.apache.spark.sql.functions.lit(2654435761L),
        org.apache.spark.sql.functions.lit(M)).as("h"))
      .distinct().collect().map(_.getLong(0)).sorted
    val direct = globalHashes.take(K)
    val (_, nSkAll, kthAll, _) = rows(0L)
    assert(nSkAll == math.min(K, globalHashes.length).toLong)
    assert(kthAll == direct.last, "merged kth != direct global kth")
  }

  test("q167 SQ8: quantized top-10 overlaps the exact min-shifted-dot top-10 at >= 8/10") {
    // SQ8 codes share one affine map, so ranking by the integer code dot
    // approximates ranking by the dot of MIN-SHIFTED vectors (x - mn_d) —
    // that is the reference ranking the 8-bit grid is asked to preserve.
    // Deterministic data + deterministic quantization → a fixed overlap
    // (9/10 observed); the floor leaves one slot of quantization slack.
    import org.apache.spark.sql.functions.{col => c}
    val vecs = graft.Tables.embeddings(spark, sf0001)
      .select(c("vec_id"), c("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val dims = vecs.values.head.length
    val mn = (0 until dims).map(d => vecs.values.map(_(d)).min).toArray
    val q = vecs(0L)
    val exactTop = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) =>
        id -> (0 until dims).map(d => (v(d) - mn(d)) * (q(d) - mn(d))).sum
      }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    val sq8Top = Registry.byName("q167_sq8_topk").fn(spark, sf0001).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(sq8Top.size == 10)
    assert((sq8Top & exactTop).size >= 8,
      s"overlap ${(sq8Top & exactTop).size}/10")
  }

  test("Profile counts the timed run only: plans built after it add no jobs, one line per job") {
    // building q34's frame (as --plans does, twice) launches a job of its
    // own: the parquet schema inference of its fixture table
    val q = "q34_docs_minhash_neardup"
    def profile(jobs: Boolean, plans: Option[String]): Seq[String] = {
      val out = Seq.newBuilder[String]
      graft.tools.Profile.run(spark, sf0001, Seq(q), reps = 1, jobs, plans)(out += _)
      out.result()
    }
    def jobsOf(lines: Seq[String]): Int = {
      val head = lines.find(_.startsWith(s"PROFILE $q ")).getOrElse(fail(lines.mkString("\n")))
      "jobs=(\\d+)".r.findFirstMatchIn(head).get.group(1).toInt
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_profile")
    val traced = profile(jobs = true, plans = None)
    val planned = profile(jobs = false, plans = Some(dir.toString))
    assert(jobsOf(traced) > 0)
    assert(jobsOf(planned) == jobsOf(traced), (traced ++ planned).mkString("\n"))
    assert(traced.count(_.startsWith("job=")) == jobsOf(traced), traced.mkString("\n"))
    // ...and nothing else: the signature checkpoint fills inside the action
    val built = "buildJobs=(\\d+)".r.findFirstMatchIn(traced.head).get.group(1).toInt
    assert(built == traced.count(l => l.startsWith("job=") && l.contains("parquet at Tables")),
      traced.mkString("\n"))
    Seq(s"$q.txt", s"${q}_unshared.txt").foreach { f =>
      assert(new String(java.nio.file.Files.readAllBytes(dir.resolve(f)))
        .startsWith("== Physical Plan =="), f)
    }
  }
}
