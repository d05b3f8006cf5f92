package graft.sources

import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import FormSinkSource.{FileStats, Successor}
import SinkLogFixture._

/** The sink's manifest log against the full listings it replaces: over
  * random commit sequences, the snapshot replayed from delta records and
  * checkpoints is the listing every version published before the log had
  * delta records. No Spark and no data files: entries are hand-built. */
object SinkLogProperties extends Properties("graft.sources.sinklog") {

  /** One commit, as the successor it proposes on top of `base`. */
  private sealed trait Op
  /** `n` new files after the base's (an append; a streaming epoch when
    * `epoch`). */
  private final case class Append(n: Int, epoch: Boolean) extends Op
  /** Every file merged into one. */
  private case object Compact extends Op
  /** Per base file: keep (0), drop (1) or rewrite (2) — a copy-on-write
    * delete. */
  private final case class Delete(fates: Seq[Int]) extends Op
  private case object Truncate extends Op
  /** The table replaced by `n` new files. */
  private final case class Overwrite(n: Int) extends Op

  // long runs of appends, so replay crosses checkpoints
  private val ops: Gen[Seq[Op]] = Gen.choose(0, 40).flatMap(Gen.listOfN(_, Gen.frequency(
    10 -> Gen.zip(Gen.choose(0, 3), Gen.prob(0.3)).map { case (n, e) => Append(n, e) },
    1 -> Gen.const(Compact),
    2 -> Gen.listOfN(40, Gen.choose(0, 2)).map(Delete(_)),
    1 -> Gen.const(Truncate),
    1 -> Gen.choose(0, 3).map(Overwrite(_)))))

  private def step(base: Successor, op: Op, fresh: () => Entry): Successor = {
    def news(n: Int) = Seq.fill(n)(fresh())
    op match {
      case Append(n, epoch) => Successor(base.entries ++ news(n),
        if (epoch) base.epochs + ("query" -> (base.epochs.getOrElse("query", 0L) + 1))
        else base.epochs)
      case Compact   => base.copy(entries = news(1))
      case Delete(fates) => base.copy(entries = base.entries.zip(fates).flatMap {
        case (e, 0) => Seq(e)
        case (_, 1) => Seq.empty
        case _      => news(1)
      })
      case Truncate     => base.copy(entries = Seq.empty)
      case Overwrite(n) => base.copy(entries = news(n))
    }
  }

  property("every version's replayed snapshot equals its checkpoint and its full listing") =
    forAll(ops) { ops =>
      val (dir, old) = (Files.createTempDirectory("graft-sinklog").toString,
        Files.createTempDirectory("graft-sinklog-full").toString)
      try {
        var i = 0
        // every fifth file predates stats
        val fresh = () => {
          i += 1
          val (name, st) = tickEntry(100 * i + 1, 100 * i + 100)
          name -> st.filter(_ => i % 5 != 0)
        }
        var model = Successor(Seq.empty, Map.empty)
        val versions = ops.map { op =>
          val next = step(model, op, fresh)
          val v = FormSinkSource.commit(dir)(_ => Some(next)).get
          writeFull(old, v, next.entries, next.epochs)
          model = next
          (v, op, next)
        }
        val log = FormSinkSource.listLog(dir)
        val full = FormSinkSource.listLog(old)
        // checked eagerly: the directories are gone when a Prop evaluates
        val checks = versions.flatMap { case (v, op, s) =>
          val (m, from) = FormSinkSource.replay(dir, log, v)
          val listed = FormSinkSource.replay(old, full, v)._1
          val checkpoint = log.checkpoints.get(v)
          val stats: Map[String, FileStats] =
            s.entries.collect { case (n, Some(st)) => n -> st }.toMap
          val record = Files.readAllBytes(log.records(v))
          val wasFull = !isDelta(log.records(v))
          val listing = fullListing(s.entries, s.epochs)
          Seq(
            (m == listed) -> s"v$v: replayed $m, full listing $listed",
            (m.files == s.entries.map(_._1) && m.stats == stats && m.epochs == s.epochs) ->
              s"v$v: replayed $m, committed $s",
            (v - from <= 9) -> s"v$v replays from v$from",
            checkpoint.forall(p => java.util.Arrays.equals(Files.readAllBytes(p), listing)) ->
              s"v$v: checkpoint bytes",
            (!wasFull || java.util.Arrays.equals(record, listing)) -> s"v$v: full record bytes",
            (checkpoint.isDefined == (v % 10 == 0 && !wasFull)) -> s"v$v: checkpoint rule",
            !(op.isInstanceOf[Append] && wasFull) -> s"v$v: an append wrote a full listing")
        }
        Prop.all(checks.map { case (ok, what) => ok :| what }: _*)
      } finally { deleteTree(dir); deleteTree(old) }
    }
}
