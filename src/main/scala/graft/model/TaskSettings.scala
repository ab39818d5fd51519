package graft.model

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.rules._

/**
 * Parser for the reference's task configuration contract (settings.json) —
 * shape per trempy/IA/task_creator_tutorial_for_ai.md:104-163 and
 * trempy/Tasks/Task.py:43-99: task block (replication_type, start_mode,
 * cdc_settings.mode + scd2 column names), error_handling (stop_if_*_error),
 * tables (schema/table/priority), filters and transformations keyed by
 * table_info. A user of the reference can point their settings.json at this
 * engine unchanged.
 */
object TaskSettings {

  case class TableRules(
      schemaName: String,
      tableName: String,
      priority: Int,
      filters: Seq[FilterCfg],
      transforms: Seq[TransformCfg]) {
    def id: String = s"$schemaName.$tableName"
  }

  case class Parsed(
      taskName: String,
      replicationType: String, // full_load | cdc | full_load_and_cdc
      startMode: String,       // reload | continue
      intervalSeconds: Int,
      cdcMode: CdcMode,
      /** engine extension: copy_on_write (default) | merge_on_read */
      mergeStrategy: MergeStrategy,
      /** engine extension (cdc_settings.buckets): lake bucket count at table
        * creation — later growable via LakeTable.rescale/splitBuckets. */
      buckets: Int,
      /** engine extension (cdc_settings.auto_compact_every_epochs): >0 folds
        * merge-on-read deltas every N committed epochs, in-line with the
        * stream; 0 leaves compaction to explicit maintenance. */
      autoCompactEveryEpochs: Int,
      autoCompactMaxDeltaFiles: Int,
      /** engine extension (cdc_settings.change_feed): persist per-epoch change
        * sidecars on copy-on-write commits so changeLog serves CDC-out. */
      changeFeed: Boolean,
      /** engine extension (cdc_settings.auto_rescale_bytes_per_bucket): >0
        * doubles the bucket count whenever live bytes/bucket exceeds it (the
        * rescale runbook as a policy, applied at the auto-compact cadence);
        * 0 leaves rescaling to explicit maintenance. */
      autoRescaleBytesPerBucket: Long,
      /** bucket groups migrated per maintenance tick while a rescale is in
        * flight (bounds one tick's physical rewrite). */
      autoRescaleMaxGroups: Int,
      /** engine extension (cdc_settings.wal_orphan_epochs): a WAL txn whose
        * COMMIT has not arrived after this many micro-batches is evicted
        * whole to quarantine (payload parsed, replay-drainable); 0 lets it
        * wait forever. */
      walOrphanEpochs: Int,
      scdCols: ScdCols,
      errorPolicy: ErrorPolicy,
      tables: Seq[TableRules],
      /** change-event schema registry (task.schema_versions): schema_ver →
        * lake-schema evolution steps to apply before merging a batch carrying
        * that version — evolution is config-contract like every other rule. */
      schemaRegistry: Map[Int, Seq[graft.lake.SchemaChange]] = Map.empty)

  private implicit val fmt: Formats = DefaultFormats

  private def anyOf(j: JValue): Any = j match {
    case JInt(v)     => if (v.isValidLong) v.toLong else v
    case JLong(v)    => v
    case JDouble(v)  => v
    case JDecimal(v) => v.toDouble
    case JString(s)  => s
    case JBool(b)    => b
    case JNull       => null
    case other       => other.values
  }

  private def parseFilter(settings: JValue): FilterCfg =
    FilterCfg(
      columnName = (settings \ "column_name").extract[String],
      filterType = (settings \ "filter_type").extract[String],
      value = (settings \ "value").toOption.map(anyOf),
      values = (settings \ "values") match {
        case JArray(vs) => vs.map(anyOf); case _ => Nil
      },
      lower = (settings \ "lower").toOption.map(anyOf),
      upper = (settings \ "upper").toOption.map(anyOf))

  private def parseTransform(settings: JValue): TransformCfg = {
    val c = settings \ "contract"
    val prio = (settings \ "priority").extractOrElse[Int](2)
    (settings \ "transformation_type").extract[String] match {
      case "modify_schema_name" =>
        ModifySchemaName((c \ "target_schema_name").extract[String], prio)
      case "modify_table_name" =>
        ModifyTableName((c \ "target_table_name").extract[String], prio)
      case "modify_column_name" =>
        ModifyColumnName((c \ "column_name").extract[String],
          (c \ "target_column_name").extract[String], prio)
      case "add_primary_key" =>
        AddPrimaryKey((c \ "column_names").extract[Seq[String]], prio)
      case "remove_primary_key" =>
        RemovePrimaryKey((c \ "column_names").extract[Seq[String]], prio)
      case "create_column" =>
        CreateColumn(
          newColumnName = (c \ "new_column_name").extract[String],
          operation = (c \ "operation").extract[String],
          value = (c \ "value").toOption.map(anyOf),
          valueType = (c \ "value_type").toOption.map(_.extract[String]),
          dependsOn = (c \ "depends_on").extractOrElse[Seq[String]](Nil),
          separator = (c \ "separator").extractOrElse[String](""),
          round = (c \ "round_result").extractOrElse[Boolean](false),
          priority = prio)
      case "modify_column_value" =>
        ModifyColumn(
          columnName = (c \ "column_name").extract[String],
          operation = (c \ "operation").extract[String],
          format = (c \ "format").toOption.map(_.extract[String]),
          expression = (c \ "expression").toOption.map(_.extract[String]),
          priority = prio)
      case other =>
        throw new IllegalArgumentException(s"unknown transformation_type: $other")
    }
  }

  /** One schema_versions entry: add / rename / widen with PG-style type names
    * (same vocabulary the create_column contract uses). */
  private def parseSchemaChange(j: JValue): graft.lake.SchemaChange =
    (j \ "change_type").extract[String] match {
      case "add_column" =>
        graft.lake.AddColumn(
          (j \ "column_name").extract[String],
          TransformCompiler.pgType((j \ "data_type").extract[String]))
      case "rename_column" =>
        graft.lake.RenameColumn(
          (j \ "column_name").extract[String],
          (j \ "target_column_name").extract[String])
      case "widen_column" =>
        graft.lake.WidenColumn(
          (j \ "column_name").extract[String],
          TransformCompiler.pgType((j \ "data_type").extract[String]))
      case other =>
        throw new IllegalArgumentException(s"unknown schema change_type: $other")
    }

  def parse(json: String): Parsed = {
    val j = JsonMethods.parse(json)
    val task = j \ "task"
    val cdc = task \ "cdc_settings"
    val scd2 = cdc \ "scd2_settings"
    val err = j \ "error_handling"

    def tableKey(entry: JValue): (String, String) =
      ((entry \ "table_info" \ "schema_name").extract[String],
        (entry \ "table_info" \ "table_name").extract[String])

    val filtersByTable = (j \ "filters") match {
      case JArray(fs) => fs.groupBy(tableKey).view
        .mapValues(_.map(e => parseFilter(e \ "settings"))).toMap
      case _ => Map.empty[(String, String), Seq[FilterCfg]]
    }
    val transformsByTable = (j \ "transformations") match {
      case JArray(ts) => ts.groupBy(tableKey).view
        .mapValues(_.map(e => parseTransform(e \ "settings"))).toMap
      case _ => Map.empty[(String, String), Seq[TransformCfg]]
    }

    val tables = (j \ "tables") match {
      case JArray(ts) => ts.map { t =>
        val sn = (t \ "schema_name").extract[String]
        val tn = (t \ "table_name").extract[String]
        TableRules(sn, tn,
          (t \ "priority").extractOrElse[Int](2),
          filtersByTable.getOrElse((sn, tn), Nil),
          transformsByTable.getOrElse((sn, tn), Nil))
      }
      case _ => Nil
    }
    // every rule must bind to a declared table: a typo'd table_info would
    // otherwise parse fine and the stream would run UNFILTERED /
    // UNTRANSFORMED with no hint anywhere
    val declared = tables.map(t => (t.schemaName, t.tableName)).toSet
    val orphans = (filtersByTable.keySet ++ transformsByTable.keySet)
      .filterNot(declared.contains)
    require(orphans.isEmpty,
      s"settings: filters/transformations reference table(s) not in `tables`: " +
        s"${orphans.map { case (a, b) => s"$a.$b" }.mkString(", ")} " +
        s"(declared: ${declared.map { case (a, b) => s"$a.$b" }.mkString(", ")})")

    Parsed(
      taskName = (task \ "task_name").extract[String],
      // validated like every other enum field (cdc mode, merge_strategy):
      // a typo'd free string here is SILENT data loss downstream —
      // "full-load" would skip the snapshot AND tail CDC onto a base-less
      // table; "Reload" would quietly behave as continue
      replicationType = {
        val v = (task \ "replication_type").extractOrElse[String]("full_load_and_cdc")
        require(Set("full_load", "cdc", "full_load_and_cdc")(v),
          s"replication_type '$v': expected full_load | cdc | full_load_and_cdc")
        v
      },
      startMode = {
        val v = (task \ "start_mode").extractOrElse[String]("continue")
        require(Set("reload", "continue")(v),
          s"start_mode '$v': expected reload | continue")
        v
      },
      intervalSeconds = (task \ "interval_seconds").extractOrElse[Int](5),
      cdcMode = CdcMode.parse((cdc \ "mode").extractOrElse[String]("default")),
      mergeStrategy = MergeStrategy.parse(
        (cdc \ "merge_strategy").extractOrElse[String]("copy_on_write")),
      buckets = (cdc \ "buckets").extractOrElse[Int](JobConfig().buckets),
      autoCompactEveryEpochs =
        (cdc \ "auto_compact_every_epochs").extractOrElse[Int](0),
      autoCompactMaxDeltaFiles =
        (cdc \ "auto_compact_max_delta_files").extractOrElse[Int](8),
      changeFeed = (cdc \ "change_feed").extractOrElse[Boolean](false),
      autoRescaleBytesPerBucket =
        (cdc \ "auto_rescale_bytes_per_bucket").extractOrElse[Long](0L),
      autoRescaleMaxGroups =
        (cdc \ "auto_rescale_max_groups").extractOrElse[Int](4),
      walOrphanEpochs = (cdc \ "wal_orphan_epochs").extractOrElse[Int](16),
      scdCols = ScdCols(
        (scd2 \ "start_date_column_name").extractOrElse[String]("scd_start_date"),
        (scd2 \ "end_date_column_name").extractOrElse[String]("scd_end_date"),
        (scd2 \ "current_column_name").extractOrElse[String]("scd_current")),
      errorPolicy = ErrorPolicy(
        (err \ "stop_if_insert_error").extractOrElse[Boolean](false),
        (err \ "stop_if_update_error").extractOrElse[Boolean](false),
        (err \ "stop_if_delete_error").extractOrElse[Boolean](false),
        (err \ "stop_if_upsert_error").extractOrElse[Boolean](false),
        (err \ "stop_if_scd2_error").extractOrElse[Boolean](false)),
      tables = tables.sortBy(_.priority),
      schemaRegistry = (task \ "schema_versions") match {
        case JObject(vers) => vers.map { case (ver, changes) =>
          val v = ver.toInt
          // keys are the EVENT's schema_ver; the base payload IS version 1.
          // A "1" key (the first-evolution-equals-1 off-by-one) would evolve
          // the LAKE while the wire parse ignores it — every added column
          // silently null forever
          require(v >= 2, s"schema_versions key '$ver': versions start at 2 " +
            "(the base payload is version 1)")
          v -> (changes match {
            case JArray(cs) => cs.map(parseSchemaChange)
            case single     => Seq(parseSchemaChange(single))
          })
        }.toMap
        case _ => Map.empty
      })
  }
}
