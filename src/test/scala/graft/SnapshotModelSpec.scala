package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.commands.Commands
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.warehouse.Snapshots

/** Snapshot tables against an in-memory model, one writer, random seeded
  * operation sequences.
  *
  * The table has a unique BIGINT `id` key plus nullable BIGINT columns the
  * sequence adds, renames and drops. Each step runs one public `Snapshots`
  * operation: append, MERGE, UPDATE/DELETE WHERE, key-list DELETE,
  * OPTIMIZE, RESTORE, ADD/RENAME/DROP COLUMN, VACUUM or SHALLOW CLONE. Row-level commits take the deletion-vector branch or, past the
  * dead-fraction bound, the re-write branch; the run prints how often
  * each was taken. Then every retained version is read back through time travel;
  * each must equal the model's copy of that version (columns in declared
  * order, rows as a multiset), and the set of retained versions must
  * equal the model's.
  */
object SnapshotModel extends Commands {

  /** One committed version: logical columns after `id` and live rows by
    * id.
    */
  final case class Version(cols: Vector[String],
      rows: Map[Long, Vector[Option[Long]]])

  /** Versions 1..head (index v-1), the oldest version vacuum kept, and
    * the next never-used id and column number.
    */
  final case class State(versions: Vector[Version], retainedFrom: Long,
      nextId: Long, nextCol: Int) {
    def head: Long = versions.size.toLong
    def cur: Version = versions.last
    def commit(v: Version): State = copy(versions = versions :+ v)
    def retained: Seq[Long] = retainedFrom to head
  }

  final class Table(val path: String) {
    override def toString: String = path
  }

  type Sut = Table

  /** Each retained version's columns and rows, as read; key 0 holds the
    * read of a clone made by the step, if any.
    */
  type Seen = Map[Long, (Seq[String], Seq[Seq[Option[Long]]])]

  private def spark = SparkTest.spark

  /** Row-level commits (MERGE, UPDATE, DELETE) over the run that gave a
    * file a new deletion vector, and that re-wrote or dropped a file.
    */
  val vectorCommits, rewriteCommits =
    new java.util.concurrent.atomic.AtomicInteger

  /** Run a row-level commit on `t`, counting the branches it took. */
  private def rowLevel(t: String)(body: => Unit): Seen = {
    val v0 = Snapshots.currentVersion(spark, t)
    body
    val v1 = Snapshots.currentVersion(spark, t)
    if (v1 > v0) {
      val before = Snapshots.deadRowsAt(spark, t, v0)
      if (Snapshots.deadRowsAt(spark, t, v1).exists { case (e, b) =>
          !before.get(e).contains(b) }) vectorCommits.incrementAndGet()
      if (Snapshots.removedFiles(spark, t, v0, v1).nonEmpty)
        rewriteCommits.incrementAndGet()
    }
    Map.empty
  }

  def canCreateNewSut(newState: State, initSuts: Iterable[State],
      runningSuts: Iterable[Sut]): Boolean = true

  def newSut(state: State): Sut = {
    val t = new Table(java.nio.file.Files.createTempDirectory("graft_model")
      .toString + "/t")
    Snapshots.commitAppend(spark, frame(state.cur.cols, state.cur.rows.toSeq),
      t.path)
    t
  }

  def destroySut(sut: Sut): Unit = ()

  def initialPreCondition(state: State): Boolean = state.head == 1

  /** A batch of `rows` under `id +: cols`, every column nullable BIGINT. */
  private def frame(cols: Seq[String],
      rows: Seq[(Long, Vector[Option[Long]])]): DataFrame = {
    val schema = StructType(("id" +: cols).map(StructField(_, LongType)))
    val data = rows.map { case (id, vs) =>
      Row.fromSeq(Long.box(id) +: vs.map(_.map(Long.box).orNull))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private val genVal: Gen[Option[Long]] =
    Gen.frequency(8 -> Gen.choose(0L, 99L).map(Some(_)), 1 -> Gen.const(None))

  private def genRow(width: Int): Gen[Vector[Option[Long]]] =
    Gen.listOfN(width, genVal).map(_.toVector)

  def genInitialState: Gen[State] = for {
    n <- Gen.choose(1, 8)
    vs <- Gen.listOfN(n, genRow(1))
  } yield {
    val rows = vs.zipWithIndex.map { case (r, i) => i.toLong -> r }.toMap
    State(Vector(Version(Vector("v"), rows)), 1L, n.toLong, 0)
  }

  def genCommand(s: State): Gen[Command] = {
    val v = s.cur
    val live = v.rows.keys.toSeq.sorted
    val someLive: Gen[Seq[Long]] =
      if (live.isEmpty) Gen.const(Nil)
      else Gen.choose(1, math.min(3, live.size))
        .flatMap(Gen.pick(_, live)).map(_.toSeq.sorted)
    val append = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, genRow(v.cols.size)).map(rs => Append(v.cols,
        rs.zipWithIndex.map { case (r, i) => (s.nextId + i, r) })))
    // a MERGE may re-insert a few deleted keys
    val dead = (0L until s.nextId).filterNot(v.rows.contains).take(3)
    val merge = for {
      ks <- Gen.someOf(live ++ dead :+ s.nextId).map(_.toSeq.sorted)
      rs <- Gen.listOfN(ks.size, genRow(v.cols.size))
    } yield Merge(v.cols, ks.zip(rs))
    val delete = for {
      ks <- someLive
      unseen <- Gen.oneOf(Nil, Seq(s.nextId + 7))
    } yield Delete(ks ++ unseen)
    val predicateDml =
      Seq(1 -> Gen.choose(0L, s.nextId).map(DeleteWhere(_))) ++
        (if (v.cols.isEmpty) Nil
         else Seq(2 -> (for {
           m <- Gen.choose(2L, 4L); r <- Gen.choose(0L, m - 1)
           c <- Gen.oneOf(v.cols)
         } yield UpdateWhere(m, r, c))))
    val restore =
      if (s.retained.size < 2) Nil
      else Seq(1 -> Gen.oneOf(s.retained.init).map(Restore(_)))
    val columnDdl = Seq(1 -> Gen.const(AddColumn(s"c${s.nextCol}"))) ++
      (if (v.cols.isEmpty) Nil
       else Seq(1 -> Gen.oneOf(v.cols).map(RenameColumn(_, s"c${s.nextCol}")),
         1 -> Gen.oneOf(v.cols).map(DropColumn(_))))
    Gen.frequency(Seq(
      4 -> append, 3 -> merge, 2 -> delete,
      2 -> someLive.map(Delete(_)),
      1 -> Gen.const(Compact),
      1 -> Gen.choose(1, 3).map(Vacuum(_)),
      1 -> Gen.const(Clone)) ++ predicateDml ++ restore ++ columnDdl: _*)
  }

  /** Read every retained version of `t` through time travel, in one job. */
  private def observe(t: String): Seen = {
    val head = Snapshots.currentVersion(spark, t)
    val reads = (1L to head).filter(Snapshots.hasVersion(spark, t, _))
      .map(v => v -> Snapshots.read(spark, t, Some(v)))
    val rows = reads.map { case (v, df) => df.withColumn("__v", lit(v)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .collect().groupBy(_.getAs[Long]("__v"))
    reads.map { case (v, df) =>
      val cs = df.columns.toSeq
      v -> (cs, rows.getOrElse(v, Array.empty[Row]).toSeq.map(r =>
        cs.map(c => Option(r.getAs[java.lang.Long](c)).map(_.longValue))))
    }.toMap
  }

  private def expected(v: Version): (Seq[String], Seq[Seq[Option[Long]]]) =
    ("id" +: v.cols, v.rows.toSeq.map { case (id, r) => Some(id) +: r })

  private def matches(want: Version,
      got: (Seq[String], Seq[Seq[Option[Long]]])): Boolean = {
    val (wc, wr) = expected(want)
    val (gc, gr) = got
    def sorted(rs: Seq[Seq[Option[Long]]]) = rs.map(_.mkString(",")).sorted
    // a version left with no data files reads as a column-less empty frame
    (gc == wc || (wr.isEmpty && gc.isEmpty)) && sorted(gr) == sorted(wr)
  }

  /** One operation: run it, then observe every retained version. */
  sealed abstract class Step extends Command {
    type Result = Seen
    def op(t: String): Seen
    def next(s: State): State
    def run(t: Sut): Seen = op(t.path) ++ observe(t.path)
    def nextState(s: State): State = next(s)
    def preCondition(s: State): Boolean = true
    def postCondition(s: State, r: Try[Seen]): Prop = r match {
      case Failure(e) => Prop.exception(e)
      case Success(seen) =>
        val want = next(s)
        val bad = want.retained.filterNot(v =>
          seen.get(v).exists(matches(want.versions((v - 1).toInt), _)))
        val extra = seen.keySet.filter(_ > 0) -- want.retained
        val clone = seen.get(0L).forall(matches(s.cur, _))
        Prop(bad.isEmpty && extra.isEmpty && clone) :|
          (s"retained ${want.retained.mkString(",")}, read " +
            s"${seen.keys.toSeq.sorted.mkString(",")}" + bad.map { v =>
              s"; v$v want ${expected(want.versions((v - 1).toInt))} " +
                s"got ${seen.get(v)}"
            }.mkString)
    }
  }

  final case class Append(cols: Vector[String],
      rows: Seq[(Long, Vector[Option[Long]])]) extends Step {
    override def preCondition(s: State): Boolean = s.cur.cols == cols &&
      rows.forall { case (id, _) => !s.cur.rows.contains(id) }
    def op(t: String): Seen = {
      Snapshots.commitAppend(spark, frame(cols, rows), t); Map.empty
    }
    def next(s: State): State = s.commit(s.cur.copy(rows = s.cur.rows ++ rows))
      .copy(nextId = math.max(s.nextId, rows.map(_._1).max + 1))
  }

  final case class Merge(cols: Vector[String],
      rows: Seq[(Long, Vector[Option[Long]])]) extends Step {
    override def preCondition(s: State): Boolean =
      s.cur.cols == cols && rows.nonEmpty
    def op(t: String): Seen =
      rowLevel(t)(Snapshots.commitMerge(spark, frame(cols, rows), t, Seq("id")))
    def next(s: State): State = s.commit(s.cur.copy(rows = s.cur.rows ++ rows))
      .copy(nextId = math.max(s.nextId, rows.map(_._1).max + 1))
  }

  final case class UpdateWhere(m: Long, r: Long, c: String) extends Step {
    override def preCondition(s: State): Boolean = s.cur.cols.contains(c)
    def op(t: String): Seen = rowLevel(t)(Snapshots.commitUpdateWhere(
      spark, t, col("id") % m === r, Seq(c -> (col(c) + 1000))))
    def next(s: State): State = {
      val i = s.cur.cols.indexOf(c)
      val hit = s.cur.rows.keySet.filter(_ % m == r)
      if (hit.isEmpty) s
      else s.commit(s.cur.copy(rows = s.cur.rows.map { case (id, vs) =>
        id -> (if (hit(id)) vs.updated(i, vs(i).map(_ + 1000)) else vs)
      }))
    }
  }

  final case class DeleteWhere(below: Long) extends Step {
    def op(t: String): Seen =
      rowLevel(t)(Snapshots.commitDeleteWhere(spark, t, col("id") < below))
    def next(s: State): State =
      if (!s.cur.rows.keys.exists(_ < below)) s
      else s.commit(s.cur.copy(rows = s.cur.rows.filter(_._1 >= below)))
  }

  final case class Delete(keys: Seq[Long]) extends Step {
    override def preCondition(s: State): Boolean = keys.nonEmpty
    def op(t: String): Seen =
      rowLevel(t)(Snapshots.commitDelete(spark, t, keys, "id"))
    def next(s: State): State =
      if (!keys.exists(s.cur.rows.contains)) s
      else s.commit(s.cur.copy(rows = s.cur.rows -- keys))
  }

  case object Compact extends Step {
    def op(t: String): Seen = {
      Snapshots.compactData(spark, t, targetFiles = 1, minFiles = 0)
      Map.empty
    }
    def next(s: State): State = s.commit(s.cur)
  }

  final case class Restore(to: Long) extends Step {
    override def preCondition(s: State): Boolean =
      s.retained.contains(to) && to != s.head
    def op(t: String): Seen = {
      Snapshots.commitRestore(spark, t, to); Map.empty
    }
    def next(s: State): State = s.commit(s.versions((to - 1).toInt))
  }

  final case class AddColumn(name: String) extends Step {
    override def preCondition(s: State): Boolean = !s.cur.cols.contains(name)
    def op(t: String): Seen = {
      Snapshots.commitAddColumns(spark, t, Seq(StructField(name, LongType)))
      Map.empty
    }
    def next(s: State): State = s.commit(s.cur.copy(cols = s.cur.cols :+ name,
        rows = s.cur.rows.map { case (id, vs) => id -> (vs :+ None) }))
      .copy(nextCol = s.nextCol + 1)
  }

  final case class RenameColumn(from: String, to: String) extends Step {
    override def preCondition(s: State): Boolean =
      s.cur.cols.contains(from) && !s.cur.cols.contains(to)
    def op(t: String): Seen = {
      Snapshots.commitRenameColumn(spark, t, from, to); Map.empty
    }
    def next(s: State): State = s.commit(s.cur.copy(
        cols = s.cur.cols.map(c => if (c == from) to else c)))
      .copy(nextCol = s.nextCol + 1)
  }

  final case class DropColumn(c: String) extends Step {
    override def preCondition(s: State): Boolean = s.cur.cols.contains(c)
    def op(t: String): Seen = {
      Snapshots.commitDropColumn(spark, t, c); Map.empty
    }
    def next(s: State): State = {
      val i = s.cur.cols.indexOf(c)
      s.commit(s.cur.copy(cols = s.cur.cols.patch(i, Nil, 1),
        rows = s.cur.rows.map { case (id, vs) => id -> vs.patch(i, Nil, 1) }))
    }
  }

  final case class Vacuum(keep: Int) extends Step {
    def op(t: String): Seen = {
      Snapshots.vacuum(spark, t, keepVersions = keep); Map.empty
    }
    def next(s: State): State =
      s.copy(retainedFrom = math.max(s.retainedFrom, s.head - keep + 1))
  }

  case object Clone extends Step {
    def op(t: String): Seen = {
      val dst = java.nio.file.Files.createTempDirectory("graft_model_clone")
        .toString + "/t"
      Snapshots.cloneTable(spark, t, dst)
      observe(dst).get(1L).map(0L -> _).toMap
    }
    def next(s: State): State = s
  }
}

class SnapshotModelSpec extends AnyFunSuite {

  private var configSeed: Option[Long] = None

  override def withFixture(test: NoArgTest) = {
    configSeed = test.configMap.getOptional[String]("seed").map(_.toLong)
    super.withFixture(test)
  }

  test("every retained version equals the model after each random operation") {
    val seed = configSeed.getOrElse(scala.util.Random.nextLong())
    println(s"SnapshotModelSpec seed=$seed " +
      s"(re-run: testOnly graft.SnapshotModelSpec -- -Dseed=$seed)")
    val params = Test.Parameters.default
      .withInitialSeed(Seed(seed))
      .withMinSuccessfulTests(3)
      .withMinSize(8)
      .withMaxSize(12)
      .withWorkers(1)
    SnapshotModel.vectorCommits.set(0)
    SnapshotModel.rewriteCommits.set(0)
    val result = Test.check(params, SnapshotModel.property())
    println(s"SnapshotModelSpec seed=$seed: row-level commits that " +
      s"vectored a file ${SnapshotModel.vectorCommits.get}, that re-wrote " +
      s"or dropped one ${SnapshotModel.rewriteCommits.get}")
    assert(result.passed,
      s"seed=$seed\n${Pretty.pretty(result, Pretty.Params(2))}")
  }
}
