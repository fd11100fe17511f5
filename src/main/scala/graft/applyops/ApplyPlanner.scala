package graft.applyops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dedup.LastWriterWins
import graft.model.{SchemaDriftException, TableConfig}
import graft.table.{SchemaEvolution, SnapshotTable}

/** Target-table apply specification: the authoritative payload schema (the
  * analog of the reference's schemawatch snapshot — reference:
  * internal/target/schemawatch/coldata.go:54-75), the primary key, and the
  * per-table apply configuration.
  *
  * @param allowEvolution when true, unknown payload columns evolve the schema
  *                       (north-star behavior); when false they are a drift
  *                       error exactly like the reference
  *                       (apply.go:341-355)
  */
final case class TableSpec(
    payloadSchema: StructType,
    pkCols: Seq[String],
    config: TableConfig = TableConfig(),
    allowEvolution: Boolean = true
)

/** Turns a window of raw mutations
  * `(key, data, nanos, logical, src_file)` into an LWW-deduplicated,
  * drift-checked, transformed merge batch carrying the snapshot meta columns
  * `(__hlc_nanos, __hlc_logical, __deleted)`.
  *
  * Reimplements the reference's apply pipeline
  * (reference: internal/target/apply/apply.go:148-191, 215-224, 285-371)
  * declaratively: one small aggregate pass computes the batch's key arities,
  * payload field set and PK-completeness (the drift truth table), the driver
  * decides error / evolve / absorb, and the row transform itself is pure
  * Catalyst (`from_json` with an explicit schema, renames, expression
  * columns, extras map, deadline filter, salted LWW dedup). No UDFs; JSON
  * numerics are decoded with explicit types, never inferred doubles.
  */
object ApplyPlanner {

  final case class PlanResult(
      batch: DataFrame,
      evolvedSchema: StructType,
      /** distinct payload fields observed (diagnostics / lineage) */
      observedFields: Seq[String],
      /** effective merge key — the declared PK, or Seq("rowid") when the
        * spec is PK-less and the planner synthesized one
        */
      pkCols: Seq[String]
  )

  /** payload field name that feeds target column `c` */
  private def srcName(spec: TableSpec, c: String): String =
    spec.config.sourceNames.getOrElse(c, c)

  /** Synthetic PK column for tables declared WITHOUT a primary key,
    * mirroring the reference's rowid synthesis
    * (internal/target/schemawatch/coldata.go:147-182): the target schema
    * gains a leading `rowid INT8` primary column. Feeds that carry a key
    * map it positionally; keyless feeds get a deterministic hash of
    * (row image, HLC), so replays of the same mutation collapse while
    * distinct mutations append.
    */
  val ROWID = "rowid"

  /** Per-unknown-column payload sample cap for drift-window type inference;
    * types stabilize in far fewer rows, and the cap keeps inference cost
    * independent of window size. The sample is deterministic (ordered by
    * stage timestamp before the cap), and a full-window conflict guard
    * catches any representation that first appears beyond the cap — see
    * the guard block in [[plan]].
    */
  val InferenceSampleRows = 1024

  /** Plan `window` into a merge batch.
    *
    * @param dedup when false, skip the pre-merge LWW dedup (2 shuffles):
    *   the snapshot merge's per-key max_by reduction subsumes it. Leave true
    *   when the batch feeds a CAS gate (CAS must see one candidate per key,
    *   like the reference's dedup-before-apply, apply.go:148-151) or when
    *   the batch is consumed by anything other than SnapshotTable.merge.
    * @param observedFields when the caller already knows the window's
    *   payload field set (staging records it per batch while writing — the
    *   [[DriftSummary]] riding StagedStore's append), pass it here and the
    *   planner skips its own summary scan entirely. Key-arity / missing-PK
    *   validation is then the stager's responsibility.
    */
  def plan(
      spark: SparkSession,
      specIn: TableSpec,
      window: DataFrame,
      saltBuckets: Int = 64,
      now: Option[java.sql.Timestamp] = None,
      dedup: Boolean = true,
      observedFields: Option[Seq[String]] = None
  ): PlanResult = {
    val syntheticPk = specIn.pkCols.isEmpty
    val spec =
      if (!syntheticPk) specIn
      else
        specIn.copy(
          payloadSchema = StructType(
            StructField(ROWID, LongType, nullable = false) +:
              specIn.payloadSchema.fields.filterNot(_.name == ROWID)
          ),
          pkCols = Seq(ROWID)
        )
    val cfg = spec.config
    val keyArr = from_json(col("key"), ArrayType(StringType))
    val pkSrcNames = spec.pkCols.map(srcName(spec, _))

    // ---- drift truth table ----------------------------------------------
    // one summary pass, unless the field set was already collected while
    // staging. A synthetic-rowid table accepts any key shape (0 or 1
    // values) and never requires the PK in the payload — the rowid is
    // engine-made — so it is summarized but not checked.
    val fields: Seq[String] = observedFields.getOrElse {
      val topic = DriftSummary.OneTable
      val aggs = DriftSummary.columns(lit(topic),
        if (syntheticPk) Map.empty else Map(topic -> pkSrcNames))
      val row = window.agg(aggs.head, aggs.tail: _*).collect()(0)
      val summary = DriftSummary.decode(row.getAs[Any](_)).getOrElse(topic, DriftSummary.Empty)
      if (!syntheticPk) DriftSummary.check(topic, summary, spec.pkCols.size, pkSrcNames)
      summary.fields.toSeq.sorted
    }

    val knownFields: Set[String] =
      spec.payloadSchema.fieldNames.map(srcName(spec, _)).toSet ++ cfg.ignore
    val unknown = fields.filterNot(knownFields.contains).sorted

    // ---- unknown columns: drift error / extras absorb / evolve ----------
    var evolved = spec.payloadSchema
    if (unknown.nonEmpty && cfg.extras.isEmpty) {
      if (!spec.allowEvolution) {
        throw new SchemaDriftException(
          s"schema drift detected: unexpected columns ${unknown.mkString("[", ", ", "]")}"
        )
      }
      // evolve: infer the new columns' types from the payloads themselves
      // (extra pass over just the data strings; drift windows are rare).
      // A field the staging layer has seen but that is absent from THIS
      // window (it only exists in rows beyond the fence) does NOT evolve
      // yet — it will when its rows actually merge; evolving early would
      // have to guess its type. `prefersDecimal` keeps the engine's own
      // "never infer doubles" rule (Mutation.scala): a decimal-looking
      // value ("4E+2", "0.1") becomes DecimalType, exact from birth,
      // instead of a lossy double.
      // exponent forms like 4E+2 infer as negative-scale decimals, which
      // Spark disallows by default: permit them during inference only,
      // then normalize to scale 0 (4E+2 -> decimal(3,0) == 400, exact).
      // The permissive conf lives on an ISOLATED session (newSession:
      // same SparkContext, separate SQL conf), so concurrent plan()
      // calls — MultiTableLoop merges one FK level's tables in
      // parallel — never race on a set/restore of the caller's
      // session-global conf.
      val inferSession = spark.newSession()
      inferSession.conf
        .set("spark.sql.legacy.allowNegativeScaleOfDecimal", "true")
      // BOUNDED inference input: running schema inference over the whole
      // window would re-execute the staged-scan pipeline a second time per
      // drift window. Instead, sample up to `InferenceSampleRows` payloads
      // PER unknown column, pre-filtered by a cheap substring test for the
      // quoted field name (a JSON field always appears as `"name"` in the
      // raw text; a value-side false positive only adds sample rows). The
      // per-column quota keeps a rare drifting column from being crowded
      // out of a shared sample, so any column with at least one bearing row
      // in the window still evolves this window. The sample is
      // DETERMINISTIC — ordered by (nanos, logical, key) before the limit
      // (TakeOrderedAndProject, still one bounded pass) — so identical
      // replays infer, and commit, identical schemas.
      val sampled: Seq[String] = unknown
        .flatMap { n =>
          window
            .filter(col("data").isNotNull)
            .filter(col("data").contains(s""""$n""""))
            .orderBy(col("nanos"), col("logical"), col("key"))
            .limit(InferenceSampleRows)
            .select(col("data"))
            .collect()
            .map(_.getString(0))
        }
        .distinct
      val inferredSampled = inferSession.read
        .option("prefersDecimal", "true")
        .json(
          inferSession.createDataset(sampled)(org.apache.spark.sql.Encoders.STRING)
        )
        .schema
      // normalize negative-scale decimals EVERYWHERE in the inferred type
      // (top level, struct fields, array/map elements): one surviving
      // DECIMAL(p,-s) in the committed schema DDL would make every later
      // StructType.fromDDL throw once the permissive conf is gone — and
      // the conflict guard's from_json probe below needs DDL-expressible
      // types too. Sanitizing widens (scale-0 decimal covers every value
      // the negative-scale form did), so probing with sanitized types
      // never creates false conflicts.
      def sanitize(dt: DataType): DataType = dt match {
        case d: DecimalType if d.scale < 0 =>
          DecimalType(math.min(DecimalType.MAX_PRECISION, d.precision - d.scale), 0)
        case s: StructType =>
          StructType(s.fields.map(f => f.copy(dataType = sanitize(f.dataType))))
        case ArrayType(e, n) => ArrayType(sanitize(e), n)
        case MapType(k, v, n) => MapType(sanitize(k), sanitize(v), n)
        case other => other
      }
      // post-cap conflict guard: a value representation that first appears
      // BEYOND the sample cap (e.g. a string after 1024 ints) must still
      // widen the schema exactly as unbounded inference would. One
      // aggregate over the window flags any payload whose raw JSON carries
      // the field but whose typed parse nulls it (the sampled type cannot
      // represent it); only the flagged columns pay a full-window
      // re-inference. String-typed columns can represent anything, so the
      // common case is guard-passes-no-fallback.
      // Container-typed (struct/array/map) drift columns skip the probe and
      // ALWAYS take the full-window re-inference below: from_json parses
      // them PARTIALLY — a struct payload with a new nested key still
      // yields a non-null struct (the new key silently dropped), an
      // array<long> given a string element yields [null] — so the
      // "typed parse nulls it" signal can never fire for them, and the
      // sampled container shape would be committed with nested fields
      // missing. Scalars keep the cheap probe (null-on-unrepresentable is
      // exact there).
      def isContainer(dt: DataType): Boolean = dt match {
        case _: StructType | _: ArrayType | _: MapType => true
        case _                                         => false
      }
      val allGuarded = unknown
        .flatMap(n => inferredSampled.fields.find(_.name == n))
        .filterNot(_.dataType == StringType)
        .map(f => f.copy(dataType = sanitize(f.dataType)))
      val (containerGuarded, guarded) =
        allGuarded.partition(f => isContainer(f.dataType))
      val probedConflicts: Seq[String] =
        if (guarded.isEmpty) Nil
        else {
          val probe = from_json(col("data"), StructType(guarded))
          val aggs = guarded.map { f =>
            max(
              when(
                get_json_object(col("data"), s"$$.${f.name}").isNotNull &&
                  probe.getField(f.name).isNull,
                1
              ).otherwise(0)
            ).as(f.name)
          }
          val row = window
            .filter(col("data").isNotNull)
            .agg(aggs.head, aggs.tail: _*)
            .collect()(0)
          guarded.zipWithIndex.collect {
            case (f, i) if !row.isNullAt(i) && row.getInt(i) == 1 => f.name
          }
        }
      val conflicted: Seq[String] =
        containerGuarded.map(_.name) ++ probedConflicts
      val inferred =
        if (conflicted.isEmpty) inferredSampled
        else {
          // full-window inference for just the conflicted columns —
          // DISTRIBUTED (read.json over the bearing payloads, never a
          // driver collect: a conflict can surface anywhere in an
          // unbounded window). Type merging is commutative, so the result
          // stays deterministic regardless of row order. The payloads hop
          // sessions through the (session-agnostic) RDD: the inference job
          // must execute UNDER inferSession so its permissive
          // negative-scale conf propagates to the executors running
          // JsonInferSchema (a dataset still bound to the caller's session
          // would ship the caller's strict conf and throw on exponent
          // decimals like 4E+2).
          val bearingRdd = window
            .filter(col("data").isNotNull)
            .filter(
              conflicted
                .map(n => col("data").contains(s""""$n""""))
                .reduce(_ || _)
            )
            .select(col("data"))
            .as(org.apache.spark.sql.Encoders.STRING)
            .rdd
          val full = inferSession.read
            .option("prefersDecimal", "true")
            .json(
              inferSession.createDataset(bearingRdd)(
                org.apache.spark.sql.Encoders.STRING
              )
            )
            .schema
          StructType(inferredSampled.fields.map { f =>
            if (conflicted.contains(f.name))
              full.fields.find(_.name == f.name).getOrElse(f)
            else f
          })
        }
      val newFields = unknown.flatMap { n =>
        inferred.fields
          .find(_.name == n)
          .map(f => StructField(n, sanitize(f.dataType), nullable = true))
      }
      evolved = SchemaEvolution.merge(
        spec.payloadSchema,
        StructType(spec.payloadSchema.fields ++ newFields)
      )
    }

    // ---- typed payload parse (explicit schema; source-name aware) -------
    // parse schema uses SOURCE field names, then aliases to target names
    val parseSchema = StructType(evolved.fields.map { f =>
      StructField(srcName(spec, f.name), f.dataType, nullable = true)
    })
    val payload = from_json(col("data"), parseSchema)

    val isDelete = col("data").isNull
    def pkFromKey(i: Int, f: StructField): Column =
      element_at(keyArr, i + 1).cast(f.dataType)

    val payloadCols: Seq[Column] = evolved.fields.toIndexedSeq.map { f =>
      val fromData = payload.getField(srcName(spec, f.name))
      if (syntheticPk && f.name == ROWID) {
        // rowid: positionally from the key when the feed carries one,
        // else a deterministic hash of (row image, HLC) — replays of the
        // same mutation collapse, distinct mutations append
        when(size(keyArr) >= 1, element_at(keyArr, 1).cast(LongType))
          .otherwise(xxhash64(col("data"), col("nanos"), col("logical")))
          .as(f.name)
      } else if (spec.pkCols.contains(f.name)) {
        val i = spec.pkCols.indexOf(f.name)
        // deletes carry no row image: PK comes positionally from the key
        when(isDelete, pkFromKey(i, f)).otherwise(fromData).as(f.name)
      } else fromData.as(f.name)
    }

    val extrasCols: Seq[Column] = cfg.extras.toSeq.map { name =>
      // the value-map parse only happens when an extras column is
      // configured (it genuinely needs the unmapped values)
      val rawMap = from_json(col("data"), MapType(StringType, StringType))
      val dropSet = knownFields ++ cfg.ignore
      map_filter(rawMap, (k, _) => !k.isin(dropSet.toSeq.map(lit): _*))
        .as(name)
    }

    var out = window.select(
      payloadCols ++ extrasCols ++ Seq(
        col("nanos").as(SnapshotTable.NANOS),
        col("logical").as(SnapshotTable.LOGICAL),
        isDelete.as(SnapshotTable.DELETED)
      ): _*
    )

    // ---- expression columns ($0 substitution; PK rewriting included) ----
    cfg.exprs.foreach { case (name, template) =>
      val e = template.replace("$0", s"`$name`")
      out = out.withColumn(name, expr(e))
    }

    // ---- deadline filter: stale rows silently dropped (deletes exempt) --
    cfg.deadlines.foreach { case (name, interval) =>
      val nowCol =
        now.map(ts => lit(ts)).getOrElse(current_timestamp())
      out = out.filter(
        col(SnapshotTable.DELETED) ||
          col(name) > (nowCol - expr(s"INTERVAL $interval"))
      )
    }

    // ---- value validation: enum allowed-values + lexical patterns -------
    // the analog of the reference's DB-side casts ($1::"MyEnum", ::INET,
    // ::VARBIT): an invalid value fails the WHOLE batch, it never lands
    // silently. Deletes are exempt (no row image). The check is a row-level
    // `assert_true` guard INSIDE the batch plan, so it rides whatever
    // action consumes the batch (normally the merge write) — validation
    // costs zero extra Spark jobs, and a violation aborts the consuming
    // job before anything commits, exactly like a DB-side cast error
    // aborting the transaction.
    if (cfg.allowedValues.nonEmpty || cfg.patterns.nonEmpty) {
      val viols: Seq[(Column, String)] =
        cfg.allowedValues.toSeq.map { case (c, vals) =>
          (col(c).isNotNull && !col(c).isin(vals.map(lit): _*), c)
        } ++ cfg.patterns.toSeq.map { case (c, re) =>
          (col(c).isNotNull && !col(c).cast(StringType).rlike(re), c)
        }
      val anyViol = viols.map(_._1).reduce(_ || _)
      val desc = concat_ws(
        ", ",
        viols.map { case (cond, name) =>
          when(cond, concat(lit(s"$name="), coalesce(col(name).cast(StringType), lit("null"))))
        }: _*
      )
      // assert_true returns NULL when the condition holds and raises with
      // the message otherwise; coalesce folds the guard into an
      // always-true filter the optimizer cannot prune (RaiseError is
      // non-foldable), keeping every row's check in the consuming job
      val guard = assert_true(
        col(SnapshotTable.DELETED) || !anyViol,
        concat(lit("invalid value for validated column: "), desc)
      )
      out = out.filter(coalesce(guard.cast(BooleanType), lit(true)))
    }

    // ---- salted last-writer-wins dedup per key --------------------------
    val deduped =
      if (!dedup) out
      else
        LastWriterWins.dedupSalted(
          out,
          spec.pkCols,
          Seq(SnapshotTable.NANOS, SnapshotTable.LOGICAL),
          saltBuckets
        )

    val finalSchema =
      if (cfg.extras.isEmpty) evolved
      else
        StructType(
          evolved.fields :+ StructField(
            cfg.extras.get,
            MapType(StringType, StringType),
            nullable = true
          )
        )
    PlanResult(deduped, finalSchema, fields, spec.pkCols)
  }

  /** Compare-and-set gate against the current table rows: keep an incoming
    * row iff there is no current row for its key, or its CAS tuple is
    * strictly greater than the current row's. Deletes pass unconditionally
    * (the reference's delete path has no CAS — queries/delete.tmpl).
    * Mirrors queries/conditional.tmpl:48-75.
    *
    * The current-row read is pruned to the batch's touched buckets — at
    * scale an unpruned read is a full-table scan per fence. The batch
    * is cached for the two passes (bucket discovery + join); call the
    * returned `cleanup` after the merge has consumed the result.
    */
  def casGate(
      table: graft.table.SnapshotTable,
      batch: DataFrame,
      pkCols: Seq[String],
      casColumns: Seq[String]
  ): (DataFrame, () => Unit) = {
    // no current rows to compare against (empty table), or the committed
    // schema predates the CAS/PK columns (they arrive with this very
    // batch): every incoming row passes, same as the left-join-miss path
    val committed = table.payloadSchema().map(_.fieldNames.toSet)
    val gateable = committed.exists(f => (pkCols ++ casColumns).forall(f.contains))
    if (casColumns.isEmpty || !gateable) (batch, () => ())
    else {
      val cached = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val touched: Set[Int] = cached
        .select(
          pmod(xxhash64(pkCols.map(col): _*), lit(table.numBuckets))
            .cast(IntegerType)
            .as("b")
        )
        .distinct()
        .collect()
        .map(_.getInt(0))
        .toSet
      val gated = casFilter(
        cached,
        // readCurrent: exactly one (max-HLC) row per key even when the
        // table carries merge-on-read deltas
        table.readCurrent(Some(touched)).filter(!col(SnapshotTable.DELETED)),
        pkCols,
        casColumns
      )
      (gated, () => { cached.unpersist(); () })
    }
  }

  def casFilter(
      batch: DataFrame,
      current: DataFrame,
      pkCols: Seq[String],
      casColumns: Seq[String]
  ): DataFrame = {
    if (casColumns.isEmpty) return batch
    casJoined(batch, current, pkCols, casColumns)
      .filter(casCond(casColumns))
      .drop((casColumns.map(c => s"__cur_$c") :+ "__cur_exists"): _*)
  }

  /** The left join of a batch against current rows that both the CAS filter
    * and the CAS audit gate on — ONE definition so they cannot drift.
    * Precondition (shared with [[casFilter]]): `current` has at most one
    * row per key.
    */
  private def casJoined(
      batch: DataFrame,
      current: DataFrame,
      pkCols: Seq[String],
      casColumns: Seq[String]
  ): DataFrame = {
    val curProj = current.select(
      (pkCols.map(col) ++
        casColumns.map(c => col(c).as(s"__cur_$c")) :+
        lit(true).as("__cur_exists")): _*
    )
    batch.join(curProj, pkCols, "left")
  }

  /** The gate predicate over [[casJoined]] output: row passes iff it is a
    * delete, has no current row, or its CAS tuple strictly beats the
    * current one.
    */
  private def casCond(casColumns: Seq[String]): Column = {
    val proposed = struct(casColumns.map(col): _*)
    val curTuple = struct(casColumns.map(c => col(s"__cur_$c")): _*)
    col(SnapshotTable.DELETED) ||
      col("__cur_exists").isNull ||
      proposed > curTuple
  }

  /** Per-key CAS acceptance accounting: `(pkCols..., n_proposed,
    * n_accepted)` for every key with at least one batch row, over exactly
    * the same join and gate predicate as [[casFilter]] (shared
    * [[casJoined]]/[[casCond]] builders — the filter and the audit cannot
    * disagree). ONE pass: the former audit shape at the q_cas_gate call
    * site aggregated the batch a second time for `n_proposed` and joined
    * the two counts back together — an extra batch scan, an extra
    * aggregate, and an extra join per audit, all folded into this single
    * aggregation over the join output (the left join against the ≤1-per-key
    * `current` preserves batch cardinality, so `count(*)` IS `n_proposed`).
    */
  def casAudit(
      batch: DataFrame,
      current: DataFrame,
      pkCols: Seq[String],
      casColumns: Seq[String]
  ): DataFrame = {
    require(casColumns.nonEmpty, "casAudit needs CAS columns")
    casJoined(batch, current, pkCols, casColumns)
      .groupBy(pkCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_proposed"),
        coalesce(
          sum(when(casCond(casColumns), 1L).otherwise(0L)),
          lit(0L)
        ).as("n_accepted")
      )
  }
}

/** The drift truth table of a batch of mutations — key arities, payload
  * field set and primary-key presence — per routing topic, defined ONCE:
  * staging observes it on the very write that stages the batch
  * ([[graft.stage.StagedStore]]), and [[ApplyPlanner.plan]] aggregates it
  * when no staged summary exists (immediate mode, ad-hoc windows). Each
  * aggregate keys its values by topic, so a multi-table batch pays the same
  * three aggregate expressions as a single table. Only top-level payload
  * keys are walked (`json_object_keys`), never the KB-sized values; the PK
  * probe is a per-column path extraction.
  */
object DriftSummary {

  /** One topic's summary. */
  final case class Summary(arities: Set[Int], fields: Set[String], missingPk: Boolean)

  val Empty: Summary = Summary(Set.empty, Set.empty, missingPk = false)

  /** Topic name of a single-table batch (its errors carry no topic tag). */
  val OneTable = ""

  private val Arities = "drift_arities"
  private val Fields = "drift_fields"
  private val MissingPk = "drift_missing_pk"

  /** The three aggregate columns over `(key, data)` rows. `topic` routes
    * each row (a literal for a single table); `pkSrc` maps a topic to the
    * payload names of its PK columns — topics absent from it, or mapped to
    * no names, are never PK-probed.
    */
  def columns(topic: Column, pkSrc: Map[String, Seq[String]]): Seq[Column] = {
    // `isin`, not `===`: a single table's topic is a literal, and `===`
    // between equal literals logs a "trivially true equals" warning
    val missingPk = pkSrc.foldLeft(lit(false)) { case (acc, (t, names)) =>
      if (names.isEmpty) acc
      else
        when(
          topic.isin(t),
          col("data").isNotNull &&
            names.map(n => get_json_object(col("data"), s"$$.$n").isNull).reduce(_ || _)
        ).otherwise(acc)
    }
    Seq(
      collect_set(struct(topic, size(from_json(col("key"), ArrayType(StringType)))))
        .as(Arities),
      collect_set(struct(topic, expr("json_object_keys(data)"))).as(Fields),
      collect_set(when(missingPk, topic)).as(MissingPk)
    )
  }

  /** Per-topic summaries from the aggregates' values, looked up by column
    * name (`Row.getAs` or an Observation's metrics map). Topics with no
    * rows are absent.
    */
  def decode(get: String => Any): Map[String, Summary] = {
    def rows(name: String): collection.Seq[org.apache.spark.sql.Row] =
      Option(get(name)).map(_.asInstanceOf[collection.Seq[org.apache.spark.sql.Row]])
        .getOrElse(Nil)
    // a null key parses to no arity and a delete's null payload to no keys;
    // neither is evidence of drift
    val arities = rows(Arities).filterNot(_.isNullAt(1)).map(r => r.getString(0) -> r.getInt(1))
    val fields = rows(Fields).filterNot(_.isNullAt(1)).map(r => r.getString(0) -> r.getSeq[String](1))
    val missing =
      Option(get(MissingPk)).map(_.asInstanceOf[collection.Seq[String]].toSet).getOrElse(Set.empty)
    (arities.map(_._1) ++ fields.map(_._1)).distinct.map { t =>
      t -> Summary(
        arities.collect { case (`t`, a) => a }.toSet,
        fields.collect { case (`t`, f) => f }.flatten.toSet,
        missing.contains(t)
      )
    }.toMap
  }

  /** Throw [[SchemaDriftException]] when `s` breaks the expected key arity
    * or lacks a PK column in some payload (reference: apply.go:285-371).
    */
  def check(topic: String, s: Summary, pkArity: Int, pkSrc: Seq[String]): Unit = {
    val tag = if (topic == OneTable) "" else s"[$topic] "
    s.arities.find(_ != pkArity).foreach { got =>
      throw new SchemaDriftException(s"${tag}the mutation key has $got values, expected $pkArity")
    }
    if (s.missingPk)
      throw new SchemaDriftException(
        s"${tag}missing primary-key column in payload; expected all of " +
          pkSrc.mkString("[", ", ", "]")
      )
  }
}
