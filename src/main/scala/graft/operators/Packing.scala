package graft.operators

import org.apache.spark.sql._
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training-data preparation: assign documents
  * (in corpus order) to fixed token-budget training sequences. The two
  * standard disciplines, each with a different scale shape:
  *
  *  1. [[concatSplit]] — "concat-and-split" (GPT-style): the corpus is
  *     one virtual token stream, split every `budget` tokens; documents
  *     may straddle pack boundaries. Needs one global exclusive prefix
  *     sum of token counts — computed with [[RowExec.runningSumLong]]
  *     (range-partition + per-partition fold + O(P) driver
  *     prefix-combine + broadcast carries), NEVER a global SQL window
  *     (`ORDER BY` with no `PARTITION BY` is a single-task sort — the
  *     one plan shape that cannot survive 100 TB).
  *
  *  2. [[greedyPack]] — document-boundary-respecting first-fit: docs are
  *     packed whole, a new pack starts when the current one cannot fit
  *     the next doc. The fold is inherently sequential (each decision
  *     depends on the running fill), so the scale form shards the corpus
  *     into fixed `groupSize` runs of doc ids and packs each run
  *     independently — embarrassingly parallel, deterministic (group
  *     boundaries are a pure function of doc_id, not of partitioning),
  *     state bounded by one group. This is how production packers
  *     actually run: global first-fit across 100 TB would serialize the
  *     whole corpus through one state machine for no training benefit.
  *
  * Token counts are whitespace word counts (`TextOps.words`) — the same
  * split every other text operator uses, so pack budgets compose with
  * `chunkWords`/`tokens` accounting.
  */
object Packing {

  /** Concat-and-split packing plan: per document, its token count, the
    * exclusive start offset in the virtual token stream, the first and
    * last pack it lands in (`pack_first`/`pack_last`, width `budget`),
    * and its offset within the first pack. Pure integer arithmetic —
    * hash-stable across engines.
    */
  def concatSplit(df: DataFrame, idCol: String, textCol: String,
                  budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val toks = df.select(
      col(idCol).cast("long").as("seq"),
      size(TextOps.words(col(textCol))).cast("long").as("tok"))
    RowExec.runningSumLong(toks, col("tok"), "__run")
      .withColumn("start_off", col("__run") - col("tok"))
      .select(
        col("seq").as(idCol),
        col("tok"),
        col("start_off"),
        expr(s"start_off div $budget").as("pack_first"),
        // greatest(start_off, ·) pins tok = 0 to pack_first: Spark `div`
        // truncates toward zero while the DuckDB oracle's `//` floors,
        // and they diverge exactly when start_off + tok - 1 < start_off.
        // Whitespace split always yields tok >= 1 today, but a tokenizer
        // swap (TextOps.tokens CAN return 0) must not break the match.
        expr(s"greatest(start_off, start_off + tok - 1) div $budget")
          .as("pack_last"),
        expr(s"start_off % $budget").as("off_in_pack"))
  }

  /** First-fit greedy packing within fixed doc-id groups: documents are
    * visited in doc_id order inside each group of `groupSize` consecutive
    * ids; a doc joins the current pack if it fits, else opens the next.
    * Output per doc: its group, token count, pack ordinal within the
    * group (`bin`), and the pack's fill after placing it. A doc larger
    * than the budget occupies a pack alone (fill > budget for that one
    * row — packs never split documents by definition of this discipline).
    *
    * One shuffle (on `grp`); per-task memory is one group of
    * (id, tok) pairs — `groupSize` longs, not document text.
    */
  def greedyPack(df: DataFrame, idCol: String, textCol: String,
                 budget: Long, groupSize: Long): DataFrame = {
    require(budget >= 1 && groupSize >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        col(idCol).cast("long").as("doc_id"),
        expr(s"CAST($idCol AS BIGINT) div $groupSize").as("grp"),
        size(TextOps.words(col(textCol))).cast("long").as("tok"))
      .as[(Long, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroups { (_, it) =>
        val docs = it.toArray.sortBy(_._1)
        var bin = 0L
        var fill = 0L
        docs.iterator.map { case (id, g, tok) =>
          if (fill > 0 && fill + tok > budget) { bin += 1; fill = tok }
          else fill += tok
          (id, g, tok, bin, fill)
        }
      }
      .toDF("doc_id", "grp", "tok", "bin", "fill")
  }

  /** MATERIALIZED concat-and-split packing over encoded docs — the
    * final training-prep artifact: fixed-width token-id sequences cut
    * from the virtual stream of all docs in id order (docs split at
    * pack boundaries, exactly [[concatSplit]]'s plan but emitting the
    * ids themselves). Input is [[TextOps.tokenizeIdArrays]]' shape
    * (idCol, ids array<long>); output one row per pack:
    * (pack_id, ids comma-joined, n_tokens = budget except the tail
    * pack, n_docs = documents contributing to the pack).
    *
    * Distributed shape: the exclusive prefix sum over doc token counts
    * is the [[concatSplit]] ordinal machinery (range partition +
    * driver prefix-sum of per-partition counts — never a global
    * window); each doc then EXPLODES into only the packs it touches
    * (fan-out ⌈tok/budget⌉, ~1 for typical docs) carrying the array
    * SLICE that lands there, and one hash aggregate reassembles packs
    * in stream order via the array_sort(struct) trick. Per-group state
    * is one pack of ids — `budget` longs, the training sequence
    * itself.
    */
  /** Shared piece derivation of the materialized packers: per (doc,
    * pack) intersection, the pack id, the global token range [g0, g1),
    * the doc id, and the sliced token-id piece. Distributed prefix sum
    * + per-doc tiling into only the packs a doc touches.
    */
  private def packPieces(enc: DataFrame, idCol: String,
                         budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val toks = enc.select(col(idCol).cast("long").as("seq"), col("ids"),
      size(col("ids")).cast("long").as("tok"))
    val withRun = RowExec.runningSumLong(toks, col("tok"), "__run")
      .withColumn("start_off", col("__run") - col("tok"))
    withRun
      .filter(col("tok") > 0)
      .select(col("seq"), col("ids"), col("start_off"), col("tok"),
        explode(sequence(expr(s"start_off div ${budget}L"),
          expr(s"(start_off + tok - 1) div ${budget}L"))).as("pack_id"))
      .select(col("pack_id"), col("seq"), col("ids"), col("start_off"),
        expr(s"greatest(start_off, pack_id * ${budget}L)").as("g0"),
        expr(s"least(start_off + tok, (pack_id + 1) * ${budget}L)").as("g1"))
      .select(col("pack_id"), col("seq"), col("g0"), col("g1"),
        slice(col("ids"), (col("g0") - col("start_off") + 1).cast("int"),
          (col("g1") - col("g0")).cast("int")).as("piece"))
  }

  def packTokenIds(enc: DataFrame, idCol: String, budget: Long): DataFrame =
    packPieces(enc, idCol, budget)
      .groupBy(col("pack_id"))
      .agg(transform(array_sort(collect_list(struct(col("g0"), col("piece")))),
        s => s.getField("piece")).as("ps"))
      // one piece per (pack, doc): the list's size is the doc count
      .select(col("pack_id"), flatten(col("ps")).as("ids"), size(col("ps")).cast("long").as("n_docs"))
      .select(col("pack_id"),
        array_join(col("ids").cast("array<string>"), ",").as("ids"),
        size(col("ids")).cast("long").as("n_tokens"),
        col("n_docs"))

  /** [[packTokenIds]] plus the per-pack DOCUMENT BOUNDARY metadata a
    * trainer needs to prevent cross-document attention: `bounds` lists
    * each doc's span inside the pack as `doc:off:len` triples in pack
    * order (off = token offset within the pack). A doc's tokens are
    * contiguous in the virtual stream, so it contributes exactly one
    * span per pack it touches — the block-diagonal attention mask (or
    * the reset points for position ids) is a pure function of this
    * column. Same distributed shape as the plain packer; the metadata
    * rides the same aggregate.
    */
  def packTokenIdsWithBounds(enc: DataFrame, idCol: String,
                             budget: Long): DataFrame =
    packPieces(enc, idCol, budget)
      .select(col("pack_id"), col("g0"), col("piece"),
        concat_ws(":", col("seq"),
          col("g0") - col("pack_id") * budget,
          col("g1") - col("g0")).as("bound"))
      .groupBy(col("pack_id"))
      .agg(array_sort(collect_list(struct(col("g0"), col("piece"), col("bound"))))
        .as("ps"))
      .select(col("pack_id"),
        flatten(expr("transform(ps, s -> s.piece)")).as("ids"),
        expr("transform(ps, s -> s.bound)").as("bs"),
        size(col("ps")).cast("long").as("n_docs"))
      .select(col("pack_id"),
        array_join(col("ids").cast("array<string>"), ",").as("ids"),
        size(col("ids")).cast("long").as("n_tokens"),
        col("n_docs"),
        array_join(col("bs"), ",").as("bounds"))

  /** Pack-level summary of [[greedyPack]]: per (grp, bin), the number of
    * docs, total fill, and waste (`budget - fill`, negative for a
    * single-oversized-doc pack). The downstream "how full are my
    * training sequences" report.
    */
  def packStats(packed: DataFrame, budget: Long): DataFrame =
    packed.groupBy(col("grp"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok")).cast("long").as("fill_total"))
      .withColumn("waste", lit(budget) - col("fill_total"))
}
