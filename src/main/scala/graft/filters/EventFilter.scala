package graft.filters

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructField, StructType}

import graft.conditions.ConditionFilter
import graft.paths.FieldPath
import graft.render.Render

/** A per-event transform operator. The whole chain is declarative: each
  * filter contributes `when(cond, …)` column expressions, so Catalyst sees
  * one flat projection per pipeline and can fuse, prune and push down
  * across operator boundaries — the single biggest structural win over the
  * reference's per-event interpreter loop at scale.
  *
  * `success` is the reference's `(event, bool)` second return: evaluated
  * against the *input* columns and projected into one column by the
  * FilterBox, so fail-tagging and conditional post-processing agree with
  * it. A filter whose success and transform share expensive per-row work
  * (Grok's regex match) computes it once in [[prepare]]; the FilterBox
  * runs `prepare` before both.
  */
trait EventFilter {
  /** Add the per-row intermediate columns that `success` and `transform`
    * both read, computed only where `cond` holds. Default: none. */
  def prepare(df: DataFrame, cond: Column): DataFrame = df

  /** Parse/convert success predicate over the prepared frame. */
  def success(df: DataFrame): Column = lit(true)

  /** Apply the transform for rows where `cond`; leave others untouched. */
  def transform(df: DataFrame, cond: Column): DataFrame

  /** Unconditional fast path (lets Remove/Rename drop real columns). */
  def transformAll(df: DataFrame): DataFrame = transform(df, lit(true))
}

/** The reference's FilterBox wrapper: `if` guards (AND-ed), the filter,
  * then add_fields/remove_fields on success and failure tagging
  * (reference: topology/filter.go:69-110). */
final case class FilterBox(
    filter: EventFilter,
    ifConds: Seq[String] = Nil,
    addFields: Map[String, String] = Map.empty,
    removeFields: Seq[String] = Nil,
    failTag: Option[String] = None) {

  def apply(df: DataFrame): DataFrame = stage(df)

  def stage: DataFrame => DataFrame = { df0 =>
    val unconditional = ifConds.isEmpty
    val guard = ifConds.map(c => ConditionFilter.compile(c, df0))
      .reduceOption(_ && _).getOrElse(lit(true))

    if (unconditional && addFields.isEmpty && removeFields.isEmpty && failTag.isEmpty) {
      // common case: no wrapper work at all — keep the plan minimal
      filter.transformAll(filter.prepare(df0, lit(true)))
    } else {
      // project success once so post-processing sees a stable value
      val prepared = filter.prepare(df0, guard)
      val df1 = prepared.withColumn(StageCols.Succ, guard && filter.success(prepared))
      val succ = col(StageCols.Succ)
      var out = filter.transform(df1, succ)
      addFields.foreach { case (k, v) =>
        out = StageCols.setField(out, k, Render.compile(v)(out), succ, overwrite = true)
      }
      removeFields.foreach { f =>
        // deleteField handles one-level AND multi-level targets —
        // remove_fields: ['[stored][raw]'] is valid in the reference
        out = StageCols.deleteField(out, f, Some(succ))
      }
      failTag.foreach { tag =>
        out = StageCols.appendTag(out, tag, guard && !succ)
      }
      out.drop(StageCols.Succ)
    }
  }
}

/** Helpers shared by filter implementations. */
object StageCols {
  val Succ = "__graft_succ"

  /** `[a]` / bare → top-level column name. */
  def topLevel(target: String): String = {
    val t = target.trim
    if (t.startsWith("[") && t.endsWith("]") && !t.drop(1).contains("["))
      t.substring(1, t.length - 1)
    else t
  }

  /** Multi-level bracket TARGET (`[a][b]…`) → its key segments; None for
    * bare names and one-level `[a]` (those take the top-level path). */
  private[filters] def multiSegs(target: String): Option[Seq[String]] = {
    val t = target.trim
    // SAME key charset as FieldPath.MultiLevel: a path the resolver
    // treats as a bare column name must not be parsed as nested here,
    // or setters and readers of one target operate on different fields
    // (r17 review finding)
    if (t.startsWith("[") && t.matches("""^(\[[-\w@.]+\])+$""")) {
      val segs = """\[([-\w@.]+)\]""".r.findAllMatchIn(t).map(_.group(1)).toSeq
      if (segs.length >= 2) Some(segs) else None
    } else None
  }

  /** Append `tag` to the `tags` array for rows where `failed` holds
    * (reference: topology/filter.go:81-91 failure tagging). */
  def appendTag(df: DataFrame, tag: String, failed: Column): DataFrame = {
    val tagCol =
      if (df.columns.contains("tags"))
        when(failed, array_union(
          coalesce(col("tags"), array()), array(lit(tag)))).otherwise(col("tags"))
      else when(failed, array(lit(tag))).cast(ArrayType(StringType))
    df.withColumn("tags", tagCol)
  }

  /** Reference FieldSetter semantics: set k→v for rows where cond holds;
    * `overwrite=false` keeps an existing non-null value. A multi-level
    * bracket target (`[a][b]`) sets a NESTED struct field like the
    * reference's MultiLevelFieldSetter builds nested maps
    * (field_setter/mfields_field_setter.go:23-38) — the r17
    * reference-parity e2e spec caught `'[a][b]'` landing as a literal
    * top-level column named "[a][b]". */
  def setField(df: DataFrame, target: String, value: Column, cond: Column,
      overwrite: Boolean): DataFrame =
    setFieldImpl(df, target, value, cond, overwrite, resurrectNull = true)

  /** `resurrectNull=false` is the DELETE path's variant: a per-row NULL
    * parent struct stays NULL (nulling a field inside an absent object
    * must not materialize the object — r17 review pass 2). The SET path
    * resurrects, because the reference creates the missing map and sets
    * the key. Lookups are case-insensitive like every FieldPath read. */
  private[filters] def setFieldImpl(df: DataFrame, target: String,
      value: Column, cond: Column, overwrite: Boolean,
      resurrectNull: Boolean): DataFrame =
    multiSegs(target) match {
      case Some(segs) =>
        setNested(df, segs, value, cond, overwrite, resurrectNull)
      case None =>
        val want = topLevel(target)
        df.columns.find(_.equalsIgnoreCase(want)) match {
          case Some(name) =>
            val cur = col(s"`$name`")
            val v =
              if (overwrite) when(cond, value).otherwise(cur)
              else when(cond && cur.isNull, value).otherwise(cur)
            df.withColumn(name, v)
          case None => df.withColumn(want, when(cond, value))
        }
    }

  /** Multi-level field DELETE (reference field_deleter semantics,
    * field_deleter/mfields_field_deleter.go: descend EXISTING struct
    * levels; a missing or non-struct level makes the whole delete a
    * no-op). Unconditional (`cond = None`) really removes the key via
    * `dropFields`; a conditional delete NULLs the leaf instead (a
    * columnar schema cannot branch shape per row — the same
    * approximation the one-level conditional remove has always used).
    * A leaf that is its struct's ONLY field is nulled rather than
    * dropped (Spark structs cannot be empty, where the reference keeps
    * an empty map). */
  def deleteField(df: DataFrame, target: String, cond: Option[Column]): DataFrame =
    multiSegs(target) match {
      case None =>
        val want = topLevel(target)
        // case-INSENSITIVE like every FieldPath read: an exact-case
        // contains made a case-mismatched rename a total silent no-op
        // (r17 review pass 2)
        df.columns.find(_.equalsIgnoreCase(want)) match {
          case None => df
          case Some(f) => cond match {
            case None => df.drop(f)
            case Some(c) =>
              df.withColumn(f, when(c, lit(null)).otherwise(col(s"`$f`")))
          }
        }
      case Some(segs) =>
        val topField = df.schema.fields.find(_.name.equalsIgnoreCase(segs.head))
        // descend STRUCT pre-path levels. The walk STOPS at the first
        // MAP level: from there down the reference descends map values
        // natively (its events are maps of maps), so the delete becomes
        // a recursive map-value rewrite instead of the r17 loud error —
        // which broke working gohangout remove_fields configs over
        // nested-json map columns (r17 ADVICE). Invariant: `t` is the
        // container type at path segs(0..i).
        @annotation.tailrec
        def walkPre(i: Int, t: Option[DataType]): (Int, Option[DataType]) =
          t match {
            case Some(_: MapType) => (i, t)
            case Some(st: StructType) if i < segs.length - 2 =>
              walkPre(i + 1, typeAt(st, segs(i + 1)).map(_.dataType))
            case _ => (i, t)
          }
        val (mapLvl, walked) = walkPre(0, topField.map(_.dataType))
        walked match {
          case Some(mt: MapType) if mapLvl < segs.length - 2 =>
            // map found ABOVE the leaf's parent: rewrite its value chain
            FieldPath.resolveSegs(df,
                segs.take(mapLvl + 1).map(FieldPath.Key)) match {
              case Some((m, _)) =>
                val removed = mapDeletePath(m, mt, segs.drop(mapLvl + 1))
                val newM = cond match {
                  case None => removed
                  case Some(c) => when(coalesce(c, lit(false)), removed).otherwise(m)
                }
                setFieldImpl(df,
                  segs.take(mapLvl + 1).mkString("[", "][", "]"),
                  newM, lit(true), overwrite = true, resurrectNull = false)
              case None => df
            }
          // below here the walk reached the LEAF'S PARENT (mapLvl ==
          // segs.length - 2) or stopped on a missing/non-container level
          case Some(pst: StructType)
              if pst.fields.exists(_.name.equalsIgnoreCase(segs.last)) =>
            cond match {
              case None if pst.fields.length > 1 =>
                val nested = segs.tail.map(s => s"`$s`").mkString(".")
                df.withColumn(topField.get.name,
                  col(s"`${topField.get.name}`").dropFields(nested))
              case None =>
                setFieldImpl(df, target, lit(null), lit(true),
                  overwrite = true, resurrectNull = false)
              case Some(c) =>
                setFieldImpl(df, target, lit(null), c,
                  overwrite = true, resurrectNull = false)
            }
          case Some(mt: MapType) =>
            // map parent: delete the KEY (reference events are maps and
            // delete keys natively; r17 review finding — rename out of
            // a map path shipped the field under both names). Null-safe
            // <=> comparison: a key that does not CAST to the map's key
            // type reads NULL, and `=!= null` would drop EVERY entry —
            // with <=> the typo'd delete is a no-op like the reference's
            // absent-key delete.
            FieldPath.resolveSegs(df,
                segs.dropRight(1).map(FieldPath.Key)) match {
              case Some((m, _)) =>
                // try_cast, not cast: ANSI mode THROWS on a malformed
                // key instead of yielding the NULL the no-op guard needs
                val k = lit(segs.last).try_cast(mt.keyType)
                val removed = map_filter(m, (mk, _) => !(mk <=> k))
                val newM = cond match {
                  case None => removed
                  case Some(c) => when(c, removed).otherwise(m)
                }
                setFieldImpl(df, segs.dropRight(1).mkString("[", "][", "]"),
                  newM, lit(true), overwrite = true, resurrectNull = false)
              case None => df
            }
          case _ => df // missing / non-container level: reference no-op
        }
    }

  private def typeAt(st: StructType, name: String): Option[StructField] =
    st.fields.find(_.name.equalsIgnoreCase(name))

  /** Delete `path` inside map `m` (of type `mt`), descending nested MAP
    * values like the reference field_deleter walks maps-of-maps: the
    * leaf key is filtered out; intermediate keys are upserted with their
    * rewritten child map. Reference no-op shapes are preserved — an
    * absent intermediate key, a non-castable key (try_cast → null,
    * null-safe <=> keeps the map intact), or a non-map value under an
    * intermediate key all leave the map untouched. */
  private def mapDeletePath(m: Column, mt: MapType, path: Seq[String]): Column =
    path match {
      case Seq(leaf) =>
        val k = lit(leaf).try_cast(mt.keyType)
        map_filter(m, (mk, _) => !(mk <=> k))
      case head +: tail =>
        mt.valueType match {
          case inner: MapType =>
            val hk = lit(head).try_cast(mt.keyType)
            // try_element_at, not element_at: ANSI mode throws on a
            // missing map key where the no-op guard needs a NULL
            val cur = try_element_at(m, hk)
            val rewritten = mapDeletePath(cur, inner, tail)
            when(hk.isNotNull && cur.isNotNull,
              map_concat(map_filter(m, (mk, _) => !(mk <=> hk)),
                map_from_arrays(array(hk), array(rewritten))))
              .otherwise(m)
          case other =>
            // the SCHEMA says no delete can ever land here (the value
            // under this nested map level is a scalar/struct, not a
            // map) — fail loudly like the set path; a silent no-op
            // shipped a dropped rename unnoticed (r17 review pass 2)
            sys.error(s"cannot delete '[${(head +: tail).mkString("][")}]' " +
              s"inside a map: the nested map level holds ${other.simpleString}, " +
              "not a map — the path cannot descend; restructure the event " +
              "or use a struct")
        }
      case _ => m // empty path: nothing to delete
    }

  /** A struct value of type `st` with every field null — the null-safe
    * descent base: `withField` on a NULL struct returns null and a
    * nested set silently vanishes (r17 review finding). */
  private def nullStruct(st: StructType): Column =
    struct(st.fields.toSeq.map(f => lit(null).cast(f.dataType).as(f.name)): _*)

  /** Nested set, reference-exact (field_setter/mfields_field_setter.go:
    * 23-38):
    *   - existing STRUCT levels update via `withField` (siblings kept),
    *     with null structs resurrected as typed nulls ONLY on rows
    *     where `cond` holds;
    *   - an existing NON-container level is SKIPPED — the reference
    *     stays at the parent and keeps walking, so `[a][b]` with a
    *     scalar `a` sets top-level `b`. (Skipping is also what keeps
    *     conditional sets row-safe: rebuilding the scalar as a struct
    *     would destroy it on rows where cond is false.)
    *   - a MAP level as the leaf's parent gets a key upsert
    *     (`map_filter` + `map_concat`, value cast to the map's value
    *     type — a bad cast fails loudly at plan time); setting THROUGH
    *     a map level deeper than the leaf is a loud plan-time error;
    *   - missing levels are created as fresh structs (rows failing
    *     `cond` keep null, like the one-level set). */
  private def setNested(df: DataFrame, segs0: Seq[String], value: Column,
      cond: Column, overwrite: Boolean, resurrectNull: Boolean): DataFrame = {
    // two-valued guard: an ifConds predicate over a NULL field evaluates
    // NULL, and a raw `!cond` would then be NULL too — resurrecting
    // structs on rows the guard did NOT match (r17 review pass 2)
    val condB = coalesce(cond, lit(false))
    // EFFECTIVE path: drop existing non-container pre-path levels
    def walk(container: Option[DataType], path: Seq[String]): Seq[String] =
      path match {
        case Seq(last) => Seq(last)
        case head +: tail => container match {
          case Some(st: StructType) => typeAt(st, head) match {
            case Some(f) if f.dataType.isInstanceOf[StructType] ||
                f.dataType.isInstanceOf[MapType] =>
              head +: walk(Some(f.dataType), tail)
            case Some(_) => walk(container, tail) // existing scalar: skip
            case None => head +: tail             // missing: create rest
          }
          case _ => head +: tail // under a map: opaque, keep verbatim
        }
      }
    val eff = walk(Some(df.schema), segs0.toList)
    // key upsert at (possibly nested) MAP levels. null-safe <=>
    // everywhere: a key that does not CAST to the map's key type reads
    // NULL — `=!= null` would silently DROP every entry, and map() would
    // then throw on the null key; with the guards a non-castable key
    // leaves the map untouched. try_element_at, not element_at, where a
    // missing key must read NULL (ANSI mode throws).
    def mapSetPath(m: Column, mt: MapType, path: Seq[String]): Column = {
      val k = lit(path.head).try_cast(mt.keyType)
      val emptyM = map_from_arrays(
        array().cast(ArrayType(mt.keyType)),
        array().cast(ArrayType(mt.valueType)))
      val removed = coalesce(map_filter(m, (mk, _) => !(mk <=> k)), emptyM)
      path match {
        case Seq(_) => // the leaf's parent: value upsert (r17 semantics)
          val inserted = map_concat(removed, map(k, value.cast(mt.valueType)))
          val effCond = (if (overwrite) condB
                         else condB && element_at(m, k).isNull) && k.isNotNull
          when(effCond, inserted).otherwise(m)
        case _ +: tail =>
          mt.valueType match {
            case inner: MapType =>
              val emptyInner = map_from_arrays(
                array().cast(ArrayType(inner.keyType)),
                array().cast(ArrayType(inner.valueType)))
              // a missing (or per-row null) intermediate key is CREATED,
              // like the reference's missing-map creation
              val cur = coalesce(try_element_at(m, k), emptyInner)
              val inserted = map_concat(removed,
                map_from_arrays(array(k), array(mapSetPath(cur, inner, tail))))
              when(condB && k.isNotNull, inserted).otherwise(m)
            case other =>
              sys.error(s"cannot set '${segs0.mkString("[", "][", "]")}': " +
                s"the nested map level holds ${other.simpleString}, not a " +
                "map — the path cannot descend; restructure the event or " +
                "use a struct")
          }
      }
    }
    if (eff.length == 1)
      setFieldImpl(df, s"[${eff.head}]", value, cond, overwrite, resurrectNull)
    else {
      // new value of the node at (c, t) after applying `path` below it
      def rebuild(c: Option[Column], t: Option[DataType],
          path: Seq[String]): Column = (t, path) match {
        case (_, Seq()) => // the leaf itself
          c match {
            case Some(cur) =>
              if (overwrite) when(condB, value).otherwise(cur)
              else when(condB && cur.isNull, value).otherwise(cur)
            case None => when(condB, value)
          }
        case (Some(mt: MapType), path @ (_ +: _)) =>
          // map level: key upsert, recursing through nested MAP values —
          // the reference creates missing intermediate maps at any depth
          // (mfields_field_setter walks/creates map[string]interface{});
          // a columnar schema can hold the next level only when the
          // map's VALUE type is itself a map, so a deeper path through a
          // non-map value type stays a loud plan-time error (r18 — the
          // single-level upsert was the r17 limit).
          mapSetPath(c.get, mt, path)
        case (Some(st: StructType), head +: tail) =>
          val f = typeAt(st, head)
          val childNew = rebuild(f.map(ff => c.get.getField(ff.name)),
            f.map(_.dataType), tail)
          val built = coalesce(c.get, nullStruct(st))
            .withField(s"`$head`", childNew)
          // the SET path resurrects a NULL struct on matching rows (the
          // reference creates the missing map); the DELETE path must
          // NOT — nulling a field inside an absent object would
          // materialize the object (r17 review pass 2)
          if (resurrectNull)
            when(c.get.isNull && !condB, lit(null)).otherwise(built)
          else when(c.get.isNull, lit(null)).otherwise(built)
        case (_, head +: tail) => // missing level: fresh struct
          if (resurrectNull)
            when(condB, struct(rebuild(None, None, tail).as(head)))
          else lit(null) // delete inside a level that does not exist
      }
      val topField = df.schema.fields.find(_.name.equalsIgnoreCase(eff.head))
      df.withColumn(topField.map(_.name).getOrElse(eff.head),
        rebuild(topField.map(f => col(s"`${f.name}`")),
          topField.map(_.dataType), eff.tail))
    }
  }
}
