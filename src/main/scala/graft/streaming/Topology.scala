package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Config-driven topology assembly — the replacement for the reference's
  * `spring.cloud.function.definition: eventTransform;animalTransform;
  * animalDlqTransform` + binding wiring (application.yml:6-56). Each
  * pipeline declares its source, dimension, sinks and lifecycle policy;
  * `Topology.start` registers everything in a StreamRegistry, honoring
  * auto-start flags (the DLQ replay ships `autoStart = false`, started on
  * demand via the control plane exactly like the reference's
  * `auto-startup: false` binding).
  */
object Topology {

  /** One enrichment pipeline (the eventTransform/animalTransform shape).
    * @param dlqReplay when set, a companion replay pipeline consumes this
    *        pipeline's DLQ against the repair dimension (the
    *        animalDlqTransform shape), registered `<name>-dlq`.
    * @param sourceDir when the source is a directory stream, its path —
    *        enables the full A17/A18 control plane for the pipeline:
    *        committed-vs-end lag probes and reset-to-latest via
    *        checkpoint seeding. Kafka sources instead honor resets
    *        through `startingOffsets` inside `source` itself.
    */
  final case class PipelineDef(
      name: String,
      source: () => DataFrame,
      dimension: () => DataFrame,
      dimKey: String,
      dimCols: Seq[String],
      successPath: String,
      dlqPath: String,
      checkpointRoot: String,
      autoStart: Boolean = true,
      dlqReplay: Option[DlqReplayDef] = None,
      sourceDir: Option[String] = None
  )

  final case class DlqReplayDef(
      repairDimension: () => DataFrame,
      dlqSchema: StructType,
      maxFilesPerTrigger: Int = 10,
      autoStart: Boolean = false
  )

  /** Register (and start per policy) every pipeline; returns the registry
    * as the control-plane handle (A16–A19).
    */
  def start(spark: SparkSession, pipelines: Seq[PipelineDef]): StreamRegistry = {
    val registry = new StreamRegistry(spark)
    pipelines.foreach { p =>
      @volatile var curCkpt = s"${p.checkpointRoot}/${p.name}-0"
      registry.registerResettable(
        p.name,
        (epoch, spec) => {
          val ckpt = s"${p.checkpointRoot}/${p.name}-$epoch"
          curCkpt = ckpt
          // reset-to-latest for directory sources: pre-commit the current
          // listing into the fresh epoch's checkpoint (seek-to-end)
          if (spec == ResetSpec.Latest)
            p.sourceDir.foreach(d => FileSourceReset.seedLatest(spark, ckpt, d))
          Pipelines.startEnrichPipeline(
            s"${p.name}-$epoch",
            p.source(),
            p.dimension,
            p.dimKey,
            p.dimCols,
            p.successPath,
            p.dlqPath,
            ckpt,
            org.apache.spark.sql.streaming.Trigger.AvailableNow()
          )
        },
        autoStart = p.autoStart,
        lagProbe = p.sourceDir.map(d => () => FileSourceLag.unprocessedFiles(curCkpt, d))
      )
      p.dlqReplay.foreach { r =>
        @volatile var dlqCkpt = s"${p.checkpointRoot}/${p.name}-dlq-0"
        registry.registerResettable(
          s"${p.name}-dlq",
          (epoch, spec) => {
            val ckpt = s"${p.checkpointRoot}/${p.name}-dlq-$epoch"
            dlqCkpt = ckpt
            if (spec == ResetSpec.Latest)
              FileSourceReset.seedLatest(spark, ckpt, p.dlqPath)
            Pipelines.startDlqReplay(
              s"${p.name}-dlq-$epoch",
              spark,
              p.dlqPath,
              r.dlqSchema,
              r.repairDimension,
              p.dimKey,
              p.dimCols,
              p.successPath,
              ckpt,
              r.maxFilesPerTrigger
            )
          },
          autoStart = r.autoStart,
          lagProbe = Some(() => FileSourceLag.unprocessedFiles(dlqCkpt, p.dlqPath))
        )
      }
    }
    registry
  }
}
