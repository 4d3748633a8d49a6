package graft.model

/** User-supplied checkpoint persistence hooks (reference
  * src/config.ts:83-114; Redis wiring in examples/example.js:9-18).
  *
  * The engine's EXACT resume state lives in the Spark streaming
  * checkpoint + the state store MANIFEST pointer — strictly stronger
  * than the reference's side-channel. These hooks exist for the same
  * reason the reference's do: letting a deployment mirror pipeline
  * progress into its own store (Redis, a metadata DB) for monitoring
  * and cross-system coordination, and letting an operator seed `from`
  * on a fresh install.
  *
  * Contract (mirrors the reference exactly):
  *  - [[onLoad]] runs once per task at startup; a returned checkpoint
  *    OVERRIDES the task's configured `from` (reference
  *    src/index.ts:14-21).
  *  - [[onSave]] fires when a scan backfill completes (the `endScan`
  *    phase flip, src/config.ts:77-81) and after every tail micro-batch
  *    that changed state (src/processor.ts:384-390, including the
  *    reference's `now - 10 s` overlap time heuristic).
  *  - Hook failures are logged and swallowed — user persistence must
  *    never kill the pipeline (src/config.ts:91-96,104-113).
  */
trait CheckpointHooks {
  def onSave(name: String, checkpoint: CheckpointSpec): Unit
  def onLoad(name: String): Option[CheckpointSpec]
}

object CheckpointHooks {
  /** Run `onSave` under the reference's swallow-errors contract. */
  def save(hooks: Option[CheckpointHooks], name: String, cp: CheckpointSpec): Unit =
    hooks.foreach { h =>
      try h.onSave(name, cp)
      catch {
        case e: Exception =>
          System.err.println(s"[graft] on save checkpoint $name: ${e.getMessage}")
      }
    }

  /** Run `onLoad` under the swallow-errors contract; only checkpoints
    * with a valid phase AND a parseable time (user persistence may hold
    * legacy formats) override the configured `from` — an invalid one is
    * ignored, never allowed to kill startup. */
  def load(hooks: Option[CheckpointHooks], name: String): Option[CheckpointSpec] =
    hooks.flatMap { h =>
      try h.onLoad(name)
        .filter(cp => cp.phase == "scan" || cp.phase == "tail")
        .filter(cp => scala.util.Try(cp.timeEpochSeconds).isSuccess)
      catch {
        case e: Exception =>
          System.err.println(s"[graft] on load checkpoint $name: ${e.getMessage}")
          None
      }
    }

  /** The tail-phase checkpoint the reference writes per batch: wall
    * clock minus the 10 s overlap window (src/processor.ts:386-388). */
  def tailNow(): CheckpointSpec =
    CheckpointSpec("tail", None,
      Some(java.time.Instant.now().minusSeconds(10).toString))
}

/** File-backed [[CheckpointHooks]] — the shipped stand-in for the
  * reference example's Redis callbacks (examples/example.js:9-18):
  * one JSON file per task under `dir`, written atomically. A real
  * deployment swaps the two IO lines for its own store; the contract
  * (override `from` on load, mirror progress on save, never throw
  * into the pipeline) is enforced by [[CheckpointHooks.save]]/
  * [[CheckpointHooks.load]] around ANY implementation. Used by
  * examples/README.md's walkthrough and run end-to-end by ExampleSpec.
  */
final class FileCheckpointHooks(dir: String) extends CheckpointHooks {
  import java.nio.file.{Files, Paths, StandardCopyOption}

  private def fileFor(name: String) =
    Paths.get(dir, name.replaceAll("[^A-Za-z0-9._-]", "_") + ".json")

  def onSave(name: String, cp: CheckpointSpec): Unit = {
    Files.createDirectories(Paths.get(dir))
    val fields = Vector("phase" -> (DStr(cp.phase): DVal)) ++
      cp.id.map(v => "id" -> (DStr(v): DVal)) ++
      cp.time.map(v => "time" -> (DStr(v): DVal))
    val p = fileFor(name)
    val tmp = Files.createTempFile(p.getParent, p.getFileName.toString, ".tmp")
    Files.writeString(tmp, DObj(fields).render)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def onLoad(name: String): Option[CheckpointSpec] = {
    val p = fileFor(name)
    if (!Files.exists(p)) None
    else {
      val o = Json.parseObj(Files.readString(p))
      def str(k: String) = o.get(k).collect { case DStr(v) => v }
      Some(CheckpointSpec(str("phase").getOrElse("scan"), str("id"), str("time")))
    }
  }
}
