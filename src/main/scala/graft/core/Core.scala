package graft.core

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql._
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

/** One stream element: a global ordinal `seq` plus the payload `value`.
  *
  * The reference engine (conduino, `src/Data/Conduino/Internal.hs:77-81`)
  * processes strictly ordered streams one element at a time. Spark Datasets
  * are unordered multisets, so order is materialized as data: every stream
  * carries `seq: Long`, assigned at the source, and order-sensitive
  * operators key off it. See SURVEY.md §1.2.
  */
case class Elem[A](seq: Long, value: A)

object Elem {
  /** Encoder for Elem[A]; requires a TypeTag so Catalyst can derive the
    * product encoder (works for primitives, case classes, tuples, Seq).
    */
  def enc[A: TypeTag]: Encoder[Elem[A]] = ExpressionEncoder[Elem[A]]()
}

/** An ordered, distributed stream: the engine's value type.
  *
  * Port of the "stream" side of `Pipe i o u m a`
  * (reference `src/Data/Conduino/Internal.hs:159-176`): a source that has
  * been reified as a Dataset with ordinals. Composition with `|>` mirrors
  * conduino's `.|` (reference `src/Data/Conduino.hs:316-337`): it is pure
  * plan-building — Catalyst fuses the chained transformations exactly as
  * conduino's church-encoded pipes fuse under GHC.
  */
final case class SStream[A](ds: Dataset[Elem[A]]) {
  def spark: SparkSession = ds.sparkSession

  /** `.|` — chain a pipe downstream. */
  def |>[B](p: Pipe[A, B]): SStream[B] = p(this)

  /** `runPipe` with a sink — triggers execution (the Spark action). */
  def into[R](k: Sink[A, R]): R = k(this)

  /** Values in seq order, collected to the driver (test/interop helper;
    * the `toListT` boundary of reference `src/Data/Conduino.hs:540-564`).
    */
  def toList: List[A] =
    ds.orderBy(col("seq")).collect().iterator.map(_.value).toList

  /** Local lazy iterator in seq order (reference `toListT`). */
  def toLocalIterator: Iterator[A] = {
    import scala.jdk.CollectionConverters._
    ds.orderBy(col("seq")).toLocalIterator.asScala.map(_.value)
  }

  def cache(): SStream[A] = SStream(ds.cache())
  def unpersist(): SStream[A] = SStream(ds.unpersist())
}

/** A named, composable stream transformation: the port of `Pipe i o u m a`
  * (reference `src/Data/Conduino/Internal.hs:88-122`). `|>` is conduino's
  * `.|` at the pipe level; both sides stay unexecuted plan until a Sink
  * (runPipe) forces an action.
  */
trait Pipe[A, B] extends Serializable { self =>
  def apply(in: SStream[A]): SStream[B]

  /** `.|` composition (reference `src/Data/Conduino.hs:316-337`). */
  def |>[C](q: Pipe[B, C]): Pipe[A, C] = new Pipe[A, C] {
    def apply(in: SStream[A]): SStream[C] = q(self(in))
  }
}

object Pipe {
  /** The identity pipe (`awaitForever yield`). */
  def id[A]: Pipe[A, A] = new Pipe[A, A] {
    def apply(in: SStream[A]): SStream[A] = in
  }
}

/** A stream consumer returning a result: the port of sinks
  * `Pipe i Void u m a` (reference `src/Data/Conduino/Internal.hs:110-117`).
  * Applying a sink is `runPipe` (reference `src/Data/Conduino.hs:210-215`):
  * the Spark action that compiles and executes the accumulated plan.
  */
trait Sink[A, R] extends Serializable { self =>
  def apply(in: SStream[A]): R

  def map[S](f: R => S): Sink[A, S] = new Sink[A, S] {
    def apply(in: SStream[A]): S = f(self(in))
  }

  /** Pre-compose a pipe: `p .| sink`. */
  def after[Z](p: Pipe[Z, A]): Sink[Z, R] = new Sink[Z, R] {
    def apply(in: SStream[Z]): R = self(p(in))
  }
}

/** The reference's named runners (`src/Data/Conduino.hs:210-221`).
  * `runPipe` is sink application — the Spark action that compiles and
  * executes the accumulated plan. `runPipePure` is the identity-effect
  * runner (`runPipePure = runIdentity . runPipe`): in this engine the
  * effect distinction is erased at COMPILE time — a pipeline built only
  * from the pure core Pipes/Sinks simply contains no effectful closures
  * — so the pure runner is the same entry point under the reference's
  * name, not a second execution path.
  */
object Runner {
  def runPipe[A, R](src: SStream[A], sink: Sink[A, R]): R = sink(src)
  def runPipe[A, B, R](src: SStream[A], p: Pipe[A, B], sink: Sink[B, R]): R =
    sink(p(src))
  def runPipePure[A, R](src: SStream[A], sink: Sink[A, R]): R = sink(src)
  def runPipePure[A, B, R](src: SStream[A], p: Pipe[A, B], sink: Sink[B, R]): R =
    sink(p(src))
}

/** Scalable ordinal assignment: turn an unordered Dataset plus a total
  * order into a stream with dense ordinals `0..n-1`.
  *
  * Design for 100 TB: a global `row_number()` window would single-partition
  * the data. Instead: range-partition by the sort keys, sort within
  * partitions, count rows per partition (one cheap job over the cached
  * sorted data), prefix-sum the counts on the driver (numPartitions values,
  * not rows), and add each partition's offset in a final mapPartitions —
  * `OrderedExec`'s prefix-combine over row counts. Every step is fully
  * parallel except the O(numPartitions) prefix sum.
  */
object Ordinals {

  def zipWithOrdinal[A](ds: Dataset[A], sortCols: Seq[Column],
                        numPartitions: Int = 0)
                       (implicit enc: Encoder[Elem[A]]): Dataset[Elem[A]] =
    // Long count (never Iterator.size, an Int that wraps past 2^31 rows per
    // partition); the running count includes the row itself
    OrderedExec.scanFold[A, Long, Elem[A]](ds, sortCols, numPartitions,
      ds.sparkSession.createDataset(_)(enc))(0L, (n, _) => n + 1, _ + _)((a, n) => Elem(n - 1, a))

  /** Ordinal from an expression when the table already has a unique,
    * order-defining key (e.g. lineitem's l_orderkey*10+l_linenumber):
    * zero shuffle, the scale-preferred path. Ordinals are then sparse,
    * which every operator here tolerates (only relative order matters).
    */
  def byExpression(df: DataFrame, seqExpr: Column): DataFrame =
    df.withColumn("seq", seqExpr.cast("long"))
}
