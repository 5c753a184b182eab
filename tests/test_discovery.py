"""The generic issue walker's layout rules (SURVEY S1): which directories
of a ``base/{alias}/{yyyy}/{mm}/{dd}[/{ed}]`` tree become issues."""

from impresso_ta.sources.discovery import detect_issues


def test_walker_layout_rules(spark, tmp_path):
    for f in [
        # two editions on one date, plus a stray date-level file: the
        # edition dirs win and the stray file belongs to no issue
        "GDL/1900/01/02/a/mets.xml",
        "GDL/1900/01/02/b/mets.xml",
        "GDL/1900/01/02/stray.txt",
        # a nested per-issue subdirectory (ALTO text/ level) stays
        # inside its issue
        "GDL/1900/01/03/a/text/00001.xml",
        # an editionless date dir is the issue, under edition 'a'
        "JDG/1910/05/06/page.xml",
        # unpadded all-digit date dirs
        "OLD/986/1/1/a/m.xml",
        # not under an alias dir: ignored
        "README.txt",
    ]:
        p = tmp_path / f
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text("x")

    disc = detect_issues(spark, str(tmp_path), "mets_alto")
    rows = sorted(
        (r["alias"], str(r["date"]), r["edition"], r["path"], r["format"])
        for r in disc.collect()
    )
    base = str(tmp_path)
    assert rows == [
        ("GDL", "1900-01-02", "a", f"{base}/GDL/1900/01/02/a", "mets_alto"),
        ("GDL", "1900-01-02", "b", f"{base}/GDL/1900/01/02/b", "mets_alto"),
        ("GDL", "1900-01-03", "a", f"{base}/GDL/1900/01/03/a", "mets_alto"),
        ("JDG", "1910-05-06", "a", f"{base}/JDG/1910/05/06", "mets_alto"),
        ("OLD", "0986-01-01", "a", f"{base}/OLD/986/1/1/a", "mets_alto"),
    ]
