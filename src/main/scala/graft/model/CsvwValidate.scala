package graft.model

/** Metadata reports and declared↔embedded compatibility
  * (`metadata.rb:1004-1087` `verify_compatible!`), surfaced as *data* —
  * warnings and errors a caller can gate on (the reference's validate-mode
  * raises; warning-mode logs and continues). The document checks of
  * `validate!` (`metadata.rb:570-830`) run in [[CsvwJson]]'s parse, which
  * leaves their [[Report]] on the parsed [[TableGroupMeta]]; the checks here
  * compare parsed models.
  */
object CsvwValidate {

  final case class Report(warnings: List[String], errors: List[String]) {
    def ok: Boolean = errors.isEmpty
    def ++(other: Report): Report = Report(warnings ++ other.warnings, errors ++ other.errors)
  }
  object Report { val empty: Report = Report(Nil, Nil) }

  /** `verify_compatible!` (`metadata.rb:1004-1087`): check a declared table
    * group against embedded metadata (url + per-column ColumnMeta list).
    * `strict` mirrors the reference's validate mode: mismatches are errors;
    * otherwise they degrade to warnings and processing continues.
    */
  def verifyCompatible(tg: TableGroupMeta, embeddedUrl: String,
                       embedded: List[ColumnMeta], strict: Boolean): Report = {
    tg.tables.find(_.url == embeddedUrl) match {
      case None =>
        val msg = s"TableGroups must have Table with matching url ${tg.tables.map(_.url)} vs $embeddedUrl"
        if (strict) Report(Nil, List(msg)) else Report(List(msg), Nil)
      case Some(t) => verifyTableCompatible(t, embedded, strict)
    }
  }

  def verifyTableCompatible(t: TableMeta, embedded: List[ColumnMeta],
                            strict: Boolean): Report = {
    var r = Report.empty
    val declared = t.tableSchema.map(_.columns).getOrElse(Nil)
    val nonVirtual = declared.filterNot(_.virtual)

    // headerless files contribute no embedded columns — always compatible
    if (embedded.nonEmpty && nonVirtual.length != embedded.length) {
      val msg = s"Columns must have the same number of non-virtual columns: ${nonVirtual.map(_.name)} vs ${embedded.map(_.name)}"
      if (strict) return Report(Nil, List(msg)) else r = r ++ Report(List(msg), Nil)
    }

    embedded.zipWithIndex.foreach { case (cb, idx) =>
      val ca = nonVirtual.lift(idx).getOrElse(ColumnMeta())
      val ta = ca.titles
      val tb = cb.titles
      val bothNameless = ca.name.isEmpty && cb.name.isEmpty && ta.isEmpty && tb.isEmpty
      if (!bothNameless) {
        if (ca.name.isDefined && cb.name.isDefined) {
          if (ca.name != cb.name)
            r = r ++ Report(Nil, List(s"Column ${idx + 1} doesn't match on name: ${ca.name.getOrElse("no name")}, ${cb.name.getOrElse("no name")}"))
        } else if (strict || (ta.nonEmpty && tb.nonEmpty)) {
          if (!titlesMatch(ta, tb)) {
            val msg = s"Column ${idx + 1} doesn't match on titles: ${ta.map(_._2)} vs ${tb.map(_._2)}"
            if (strict) r = r ++ Report(Nil, List(msg))
            else r = r ++ Report(List(msg), Nil)
          }
        }
      }
    }
    r
  }

  /** Title matching with the reference's four-step rule (`metadata.rb:1056-1072`):
    * und-titles match any language, same-language titles must intersect, and
    * a language-prefix relation ("en" vs "en-US") with intersecting titles
    * also matches.
    */
  def titlesMatch(ta: List[(String, String)], tb: List[(String, String)]): Boolean = {
    def byLang(ts: List[(String, String)]): Map[String, List[String]] =
      ts.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ma = byLang(ta)
    val mb = byLang(tb)
    val aUnd = ma.getOrElse("und", Nil)
    val bUnd = mb.getOrElse("und", Nil)
    val bAll = tb.map(_._2)
    val aAll = ta.map(_._2)
    aUnd.exists(bAll.contains) ||
    bUnd.exists(aAll.contains) ||
    ma.exists { case (lang, vs) => mb.getOrElse(lang, Nil).intersect(vs).nonEmpty } ||
    ma.exists { case (la, vs) =>
      mb.exists { case (lb, ws) =>
        (la.startsWith(lb) || lb.startsWith(la)) && ws.intersect(vs).nonEmpty
      }
    }
  }
}
