package graft.sources

import java.nio.file.{Path => JPath}
import java.util.Base64

import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint, GraftConstraintShim, PrimaryKey, Unique}
import org.apache.spark.sql.connector.expressions.Expressions

/** Persisted TABLE CONSTRAINTS (Spark 4's connector constraint
  * surface): a `_constraints` sidecar at the TABLE level, swapped
  * atomically like `_props`/`_refs` and written under the commit lock.
  * Table-scoped rather than snapshot-scoped for the same reason as
  * properties — a constraint governs FUTURE writes; pinning it to
  * time-traveled snapshots would only let an old reader resurrect a
  * dropped rule.
  *
  * Supported kinds mirror the lakehouse posture:
  *  - `CHECK (<predicate>) ENFORCED` — the REAL one: the table reports
  *    it through `Table.constraints()`, Spark's analyzer injects the
  *    validation into every v2 write's query plan, and a violating row
  *    fails the WRITE (the Delta CHECK-constraint semantics; the scan
  *    side costs nothing). Enforcement rides the write's own codegen'd
  *    projection — at 100 TB the check is a per-row predicate inside
  *    the write stage, not an extra pass.
  *  - `PRIMARY KEY` / `UNIQUE ... NOT ENFORCED` — informational (RELY
  *    feeds the optimizer); actually enforcing uniqueness would cost a
  *    global shuffle per write, which no lakehouse does.
  *  - `FOREIGN KEY` — refused with a pointed error: it names another
  *    table this catalog would have to transactionally co-validate.
  *
  * Line format (tab-separated): `kind<TAB>name<TAB>enforced<TAB>rely
  * <TAB>status<TAB>payload` where payload is base64(predicateSql) for
  * CHECK (SQL text may contain tabs/newlines) and the comma-joined
  * column list for PK/UNIQUE. */
private[sources] object TableConstraints {
  private val FileName = "_constraints"

  def read(dir: JPath): Array[Constraint] = {
    MetaStore.lines(dir.resolve(FileName)).map { line =>
        val Array(kind, name, enf, rely, status, payload) =
          line.split("\t", 6)
        val vs = Constraint.ValidationStatus.valueOf(status)
        // ascribed: the branches' least upper bound is the package-
        // private BaseConstraint, which this class may not reference
        (kind match {
          case "CHECK" => GraftConstraintShim.check(name,
            new String(Base64.getDecoder.decode(payload), "UTF-8"),
            enf == "1", rely == "1", vs)
          case "PRIMARY_KEY" => GraftConstraintShim.primaryKey(name,
            payload.split(",").map(Expressions.column), enf == "1",
            rely == "1", vs)
          case "UNIQUE" => GraftConstraintShim.unique(name,
            payload.split(",").map(Expressions.column), enf == "1",
            rely == "1", vs)
          case other => throw new IllegalStateException(
            s"$dir: unknown constraint kind $other in $FileName")
        }): Constraint
      }.toArray
  }

  def write(dir: JPath, constraints: Seq[Constraint]): Unit = {
    val lines = constraints.map { c =>
      val (kind, payload) = c match {
        case ch: Check => ("CHECK", Base64.getEncoder.encodeToString(
          ch.predicateSql().getBytes("UTF-8")))
        case pk: PrimaryKey =>
          ("PRIMARY_KEY", pk.columns().map(_.toString).mkString(","))
        case u: Unique =>
          ("UNIQUE", u.columns().map(_.toString).mkString(","))
        case other => throw new UnsupportedOperationException(
          s"unsupported constraint ${other.toDDL} — supported: CHECK " +
            "(enforced), PRIMARY KEY / UNIQUE (not enforced); FOREIGN " +
            "KEY needs cross-table transactional validation this " +
            "single-table catalog does not do")
      }
      Seq(kind, c.name(), if (c.enforced()) "1" else "0",
        if (c.rely()) "1" else "0", c.validationStatus().name(), payload)
        .mkString("\t")
    }
    MetaStore.replace(dir.resolve(FileName), lines.mkString("\n"))
  }
}
