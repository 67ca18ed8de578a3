package graft

import org.apache.spark.sql.functions._

import graft.operators.{ColOps, Packing, RowExec, TextOps}

/** Sequence-packing invariants, checked against driver-side reference
  * folds over the sf0.001 documents fixture (the oracle-SQL mirror is
  * exercised by the driver's DuckDB gate; these specs pin the fold
  * semantics independently of SQL).
  */
class PackingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val B = 64L
  private val G = 10L

  private lazy val docs = ColOps.table(spark, dir, "documents")

  private lazy val toks: Seq[(Long, Long)] = docs
    .select(col("doc_id"), size(TextOps.words(col("text"))).cast("long").as("tok"))
    .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("concatSplit matches the driver-side exclusive prefix sum exactly") {
    val got = Packing.concatSplit(docs, "doc_id", "text", B)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    var off = 0L
    toks.foreach { case (id, tok) =>
      val expected = (tok, off, off / B, (off + tok - 1) / B, off % B)
      assert(got(id) === expected, s"doc $id")
      off += tok
    }
    assert(got.size === toks.size)
  }

  test("runningSumLong on binary rows ≡ a Row fold: nulls add 0, arrays pass through, empty partitions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("seq", LongType), StructField("v", LongType),
      StructField("ids", ArrayType(LongType, containsNull = false)), StructField("s", StringType)))
    val rows = Seq[Row](Row(1L, 5L, Seq(1L, 2L), "a"), Row(2L, null, Seq.empty[Long], null),
      Row(3L, 7L, null, "c"), Row(4L, -2L, Seq(9L), "d"), Row(5L, null, Seq(3L, 3L, 3L), "e"))
    // the Row reference: the input row in seq order plus the running sum
    var acc = 0L
    val expected = rows.map { r =>
      acc += (if (r.isNullAt(1)) 0L else r.getLong(1))
      Row.fromSeq(r.toSeq :+ acc)
    }
    def asSeqs(rs: Seq[Row]) = rs.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case x => x
    })
    // 8 partitions for 5 rows: ascending runs with empty partitions (the
    // sorted-run path) and the same rows reversed (the range-sort path)
    for (in <- Seq(rows, rows.reverse)) {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(in, 8), schema)
      val out = RowExec.runningSumLong(df, col("v"), "run")
      assert(out.schema == schema.add("run", LongType, nullable = false))
      assert(asSeqs(out.collect().toSeq.sortBy(_.getLong(0))) == asSeqs(expected))
    }
  }

  test("greedyPack replays the first-fit fold per fixed doc-id group") {
    val got = Packing.greedyPack(docs, "doc_id", "text", B, G)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    toks.groupBy(_._1 / G).foreach { case (grp, ds) =>
      var bin = 0L; var fill = 0L
      ds.sortBy(_._1).foreach { case (id, tok) =>
        if (fill > 0 && fill + tok > B) { bin += 1; fill = tok } else fill += tok
        assert(got(id) === ((grp, tok, bin, fill)), s"doc $id in grp $grp")
      }
    }
    assert(got.size === toks.size)
  }

  test("greedyPack fill exceeds the budget only for single-doc oversize packs") {
    val rows = Packing.greedyPack(docs, "doc_id", "text", B, G).collect()
    val perPack = rows.groupBy(r => (r.getLong(1), r.getLong(3)))
    perPack.foreach { case (pack, rs) =>
      val fills = rs.map(_.getLong(4))
      val tokSum = rs.map(_.getLong(2)).sum
      assert(fills.max === tokSum, s"pack $pack fill must end at the pack's token sum")
      if (tokSum > B)
        assert(rs.length === 1, s"pack $pack overflows with ${rs.length} docs — first-fit would have split it")
    }
  }

  test("packStats aggregates the greedy assignment (docs and fill conserved)") {
    val packed = Packing.greedyPack(docs, "doc_id", "text", B, G)
    val stats = Packing.packStats(packed, B).collect()
    assert(stats.map(_.getLong(2)).sum === toks.size.toLong)
    assert(stats.map(_.getLong(3)).sum === toks.map(_._2).sum)
    stats.foreach { r =>
      assert(r.getLong(4) === B - r.getLong(3), "waste = budget - fill_total")
    }
  }

  test("packTokenIdsWithBounds: spans tile each pack contiguously and agree with the plain packer") {
    val enc = TextOps.tokenizeIdArrays(docs, "doc_id", "text",
      TextOps.bpeRun(docs, "text", 3)._2)
    val plain = Packing.packTokenIds(enc, "doc_id", B)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val withB = Packing.packTokenIdsWithBounds(enc, "doc_id", B).collect()
    assert(withB.length == plain.size)
    val maxPack = withB.map(_.getLong(0)).max
    withB.foreach { r =>
      val (packId, ids, nTok, nDocs, bounds) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4))
      // the ids/n_tokens/n_docs columns are EXACTLY the plain packer's
      assert(plain(packId) == ((ids, nTok, nDocs)), s"pack $packId diverged from packTokenIds")
      val spans = bounds.split(",").map { b =>
        val Array(doc, off, len) = b.split(":").map(_.toLong); (doc, off, len)
      }
      assert(spans.length == nDocs)
      // spans tile the pack contiguously from offset 0 (the property a
      // block-diagonal attention mask builder relies on); every pack
      // except the last is full
      assert(spans.head._2 == 0L, s"pack $packId first span offset ${spans.head._2}")
      spans.sliding(2).foreach {
        case Array((_, o1, l1), (_, o2, _)) =>
          assert(o1 + l1 == o2, s"pack $packId spans not contiguous")
        case _ => ()
      }
      assert(spans.map(_._3).sum == nTok)
      if (packId < maxPack) assert(nTok == B, s"non-final pack $packId not full")
    }
  }

  test("q_corpus_build_warc at sf0.001: Spark jobs and generated classes pinned") {
    val build = SparkEntry.queries("q_corpus_build_warc")
    def force(): Unit = {
      val df = build(spark, dir)
      df.agg(bit_xor(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)))).collect()
    }
    force() // stage the shards once
    val jobs = jobsOf(force())
    assert(jobs <= 13, s"$jobs jobs")
    val classes = compiledClassesOf(force())
    assert(classes <= 56, s"$classes generated classes")
  }
}
