"""Seeded input generators for the three benchmark workloads.

Each generator writes its inputs under ``out_dir`` from ``seed`` alone
(same seed, same bytes) and returns the truths the output checks compare
against. The program under test only ever sees the written files.

- ``gen_mets_alto``: a METS/ALTO source tree (``alias/yyyy/mm/dd/a``) for
  ``cmd_import``; a fixed share of issues carries a truncated METS file
  (import error rows) and a fixed share of pages a negative token
  coordinate (rows the ``--validate`` pass rejects).
- ``gen_canonical``: a canonical store written as bz2 JSON lines in the
  reference's packaging (issues per alias-year file, pages per issue file)
  for ``cmd_rebuild``; pages per issue are heavy-tailed and a small share
  of content items point at a page that does not exist.
- ``gen_documents``: a documents parquet for ``cmd_corpus`` with a
  language mix, near-duplicate clusters, exact duplicates, shared
  boilerplate spans and low-quality documents.
"""

from __future__ import annotations

import bz2
import datetime
import hashlib
import json
import os
import random

ALIASES = ["GDL", "JDG", "IMP", "LLE", "EXP", "BLB", "NZZ", "LUX"]
LANGS = ["fr", "de", "en", "it"]
TS = "2024-01-01T00:00:00Z"

_SYLLABLES = {
    "fr": "la le re ne se de te ce ou an on en in eau ai oi cha che mon tou",
    "de": "ge be er en ei ch sch st un der die das ung ein auf ber ten zu",
    "en": "th er on an re he in ed nd ha at en es of or nt ea ti to st",
    "it": "la le re no ta to ri ra co ne di ci sa ma za gli zio ne pe ti",
}


def vocabulary(rng: random.Random, lang: str, n: int) -> list[str]:
    """``n`` distinct pseudo-words of 3-9 letters built from ``lang``'s
    syllables, so languages differ in spelling but share nothing."""
    syl = _SYLLABLES[lang].split()
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 4)))
        if 3 <= len(w) <= 9:
            words.add(w)
    return sorted(words)


def fingerprint(root: str) -> dict:
    """Files, bytes and md5 over (relative path, content) of a tree, in
    sorted path order."""
    h = hashlib.md5()
    n_files = n_bytes = 0
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                data = fh.read()
            h.update(data)
            n_files += 1
            n_bytes += len(data)
    return {"files": n_files, "bytes": n_bytes, "md5": h.hexdigest()}


def digest(ids) -> str:
    return hashlib.md5("\n".join(sorted(ids)).encode()).hexdigest()


def _issue_dates(rng: random.Random, n_issues: int) -> list[tuple[str, datetime.date]]:
    """Distinct (alias, date) pairs spread over the aliases and 1850-1949."""
    seen: set[tuple[str, datetime.date]] = set()
    out = []
    start = datetime.date(1850, 1, 1)
    while len(out) < n_issues:
        key = (
            ALIASES[len(out) % len(ALIASES)],
            start + datetime.timedelta(days=rng.randrange(365 * 100)),
        )
        if key not in seen:
            seen.add(key)
            out.append(key)
    return out


# ---------------------------------------------------------------------------
# METS/ALTO source tree
# ---------------------------------------------------------------------------

_METS_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<mets xmlns="http://www.loc.gov/METS/" '
    'xmlns:xlink="http://www.w3.org/1999/xlink" '
    'xmlns:mods="http://www.loc.gov/mods/v3">\n'
)
_ALTO_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<alto xmlns="http://www.loc.gov/standards/alto/ns-v3#">\n'
    '<Styles><TextStyle ID="TS1" FONTFAMILY="Times" FONTSIZE="9"/>'
    '<TextStyle ID="TS2" FONTFAMILY="Times" FONTSTYLE="bold" FONTSIZE="14"/>'
    "</Styles>\n"
)


def _alto_block(rng, vocab, page_no, block_id, y, bad, ids):
    """One TextBlock of 3-8 lines; returns (xml, height). Hyphenates the
    last word of some lines across the line break; ``bad`` gives the
    first token a negative HPOS."""
    lines = []
    ly = y
    carry = None
    for _ in range(rng.randint(3, 8)):
        x = 40
        strings = []
        words = [rng.choice(vocab) for _ in range(rng.randint(6, 10))]
        if carry is not None:
            words[0] = carry
            carry = None
        for k, w in enumerate(words):
            ids[0] += 1
            sid = f"P{page_no}_ST{ids[0]:05d}"
            hpos = -7 if bad and not strings else x
            attrs = (
                f'ID="{sid}" CONTENT="{w}" HPOS="{hpos}" VPOS="{ly}" '
                f'WIDTH="{len(w) * 11}" HEIGHT="22" STYLEREFS="TS1"'
            )
            if k == len(words) - 1 and len(w) >= 6 and rng.random() < 0.2:
                head, tail = w[: len(w) // 2], w[len(w) // 2 :]
                attrs = attrs.replace(f'CONTENT="{w}"', f'CONTENT="{head}"')
                attrs += f' SUBS_TYPE="HypPart1" SUBS_CONTENT="{w}"'
                carry = tail
            strings.append(f"<String {attrs}/>")
            x += len(w) * 11 + 9
            bad = False
        lines.append(
            f'<TextLine HPOS="40" VPOS="{ly}" WIDTH="{x - 40}" HEIGHT="22">'
            + "<SP/>".join(strings)
            + "</TextLine>"
        )
        ly += 28
    xml = (
        f'<TextBlock ID="{block_id}" HPOS="40" VPOS="{y}" WIDTH="900" '
        f'HEIGHT="{ly - y}">' + "".join(lines) + "</TextBlock>\n"
    )
    return xml, ly - y


def gen_mets_alto(out_dir: str, seed: int, n_issues: int) -> dict:
    """Write a METS/ALTO tree of ``n_issues`` issues; return its truths."""
    rng = random.Random(seed)
    vocabs = {lg: vocabulary(rng, lg, 2000) for lg in LANGS}
    issues = _issue_dates(rng, n_issues)
    broken = set(rng.sample(range(n_issues), max(1, n_issues // 25)))
    truth = {"issues": 0, "pages": 0, "import_errors": 0, "rejected_pages": 0}
    ci_ids: list[str] = []
    page_slots = []  # (issue index, page number) of well-formed issues

    # the same multiset of page counts for every seed; the seed only
    # decides which issue gets which
    page_counts = [2 + k % 7 for k in range(n_issues)]
    rng.shuffle(page_counts)
    plans = []
    for idx, (alias, d) in enumerate(issues):
        n_pages = page_counts[idx]
        lang = rng.choice(LANGS)
        # content items: ~3 per page; an article continues on the next
        # page with probability 0.3
        cis = []
        for p in range(1, n_pages + 1):
            for _ in range(rng.randint(2, 4)):
                span = [p, p + 1] if p < n_pages and rng.random() < 0.3 else [p]
                tp = "ADVERTISEMENT" if rng.random() < 0.15 else "ARTICLE"
                cis.append((tp, span))
        plans.append((alias, d, n_pages, lang, cis))
        if idx not in broken:
            page_slots += [(idx, p) for p in range(1, n_pages + 1)]
    bad_pages = set(rng.sample(page_slots, max(1, len(page_slots) // 20)))

    for idx, (alias, d, n_pages, lang, cis) in enumerate(plans):
        issue_id = f"{alias}-{d:%Y-%m-%d}-a"
        issue_dir = os.path.join(out_dir, alias, f"{d:%Y}", f"{d:%m}", f"{d:%d}", "a")
        os.makedirs(os.path.join(issue_dir, "text"))
        vocab = vocabs[lang]
        # block layout: each CI gets one or two blocks on every page it spans
        page_blocks: dict[int, list[tuple[str, int]]] = {
            p: [] for p in range(1, n_pages + 1)
        }
        ci_areas = []
        for n, (_tp, span) in enumerate(cis, start=1):
            areas = []
            for p in span:
                for _ in range(rng.randint(1, 2)):
                    bid = f"P{p}_TB{len(page_blocks[p]) + 1:05d}"
                    page_blocks[p].append((bid, n))
                    areas.append((p, bid))
            ci_areas.append(areas)

        for p in range(1, n_pages + 1):
            ids = [0]
            y = 60
            body = []
            for bid, _n in page_blocks[p]:
                xml, h = _alto_block(
                    rng, vocab, p, bid, y, (idx, p) in bad_pages, ids
                )
                body.append(xml)
                y += h + 20
            alto = (
                _ALTO_HEAD
                + f'<Layout><Page ID="P{p}" WIDTH="1000" HEIGHT="{y + 60}" '
                f'PHYSICAL_IMG_NR="{p}"><PrintSpace>\n'
                + "".join(body)
                + "</PrintSpace></Page></Layout></alto>\n"
            )
            with open(
                os.path.join(issue_dir, "text", f"{issue_id}-{p:04d}.xml"), "w"
            ) as fh:
                fh.write(alto)

        divs = []
        for n, ((tp, _span), areas) in enumerate(zip(cis, ci_areas), start=1):
            fptrs = "".join(
                f'<fptr><area FILEID="ALTO{p}" BEGIN="{bid}" BETYPE="IDREF"/></fptr>'
                for p, bid in areas
            )
            label = " ".join(rng.choice(vocab) for _ in range(3))
            divs.append(
                f'<div ID="DIV{n}" TYPE="{tp}" LABEL="{label}" DMDID="DMD1" '
                f'ORDER="{n}">{fptrs}</div>\n'
            )
        files = "".join(
            f'<file ID="ALTO{p}" SEQ="{p}"><FLocat LOCTYPE="URL" '
            f'xlink:href="file://text/{issue_id}-{p:04d}.xml"/></file>\n'
            for p in range(1, n_pages + 1)
        )
        mets = (
            _METS_HEAD
            + '<dmdSec ID="DMD1"><mdWrap MDTYPE="MODS"><xmlData><mods:mods>'
            f"<mods:language><mods:languageTerm>{lang}</mods:languageTerm>"
            "</mods:language></mods:mods></xmlData></mdWrap></dmdSec>\n"
            f'<fileSec><fileGrp USE="Text">\n{files}</fileGrp></fileSec>\n'
            '<structMap TYPE="LOGICAL"><div TYPE="Newspaper"><div TYPE="ISSUE">\n'
            + "".join(divs)
            + "</div></div></structMap>\n</mets>\n"
        )
        if idx in broken:
            mets = mets[: len(mets) // 2]
            truth["import_errors"] += 1
        else:
            truth["issues"] += 1
            truth["pages"] += n_pages
            ci_ids += [f"{issue_id}-i{n:04d}" for n in range(1, len(cis) + 1)]
        with open(os.path.join(issue_dir, f"{issue_id}-mets.xml"), "w") as fh:
            fh.write(mets)

    truth["rejected_pages"] = len(bad_pages)
    truth["pages"] -= len(bad_pages)
    truth["error_rows"] = truth["import_errors"] + truth["rejected_pages"]
    truth["ci_ids_digest"] = digest(ci_ids)
    truth["cis"] = len(ci_ids)
    return truth


# ---------------------------------------------------------------------------
# Canonical store (bz2 JSON lines)
# ---------------------------------------------------------------------------


def _canonical_region(rng, vocab, ci_id, y):
    lines = []
    ly = y
    for _ in range(rng.randint(3, 7)):
        x = 40
        toks = []
        for _ in range(rng.randint(6, 10)):
            w = rng.choice(vocab)
            toks.append({"tx": w, "c": [x, ly, len(w) * 11, 22]})
            x += len(w) * 11 + 9
        if rng.random() < 0.15:
            toks[-1]["tx"] += "-"
            toks[-1]["hy"] = True
        lines.append({"c": [40, ly, x - 40, 22], "t": toks})
        ly += 28
    box = [40, y, 900, ly - y]
    return {"c": box, "pOf": ci_id, "p": [{"c": box, "l": lines}]}, ly - y


def gen_canonical(out_dir: str, seed: int, n_issues: int) -> dict:
    """Write issues and pages as the reference packages them:
    ``issues/{alias}/{alias}-{year}-issues.jsonl.bz2`` and
    ``pages/{alias}/{alias}-{year}/{issue}-pages.jsonl.bz2``."""
    rng = random.Random(seed)
    vocabs = {lg: vocabulary(rng, lg, 2000) for lg in LANGS}
    by_year: dict[tuple[str, int], list[dict]] = {}
    n_cis = 0
    problem_ids: list[str] = []
    # zipfian page counts (rank r gets ceil(40 / r) pages: one 40-page
    # straggler, most issues 1-2 pages), the same multiset for every seed
    page_counts = [-(-40 // r) for r in range(1, n_issues + 1)]
    rng.shuffle(page_counts)
    for (alias, d), n_pages in zip(_issue_dates(rng, n_issues), page_counts):
        issue_id = f"{alias}-{d:%Y-%m-%d}-a"
        lang = rng.choice(LANGS)
        vocab = vocabs[lang]
        cis = []
        page_regions: dict[int, list[dict]] = {p: [] for p in range(1, n_pages + 1)}
        for p in range(1, n_pages + 1):
            for _ in range(rng.randint(2, 4)):
                n = len(cis) + 1
                ci_id = f"{issue_id}-i{n:04d}"
                pp = [p, p + 1] if p < n_pages and rng.random() < 0.3 else [p]
                if rng.random() < 0.03:
                    pp = pp + [n_pages + 1]  # page the store does not hold
                    problem_ids.append(ci_id)
                for q in pp:
                    if q <= n_pages:
                        page_regions[q].append(ci_id)
                cis.append(
                    {
                        "m": {
                            "id": ci_id,
                            "pp": pp,
                            "tp": "article" if rng.random() < 0.85 else "ad",
                            "t": " ".join(rng.choice(vocab) for _ in range(3)),
                            "lg": lang,
                            "ro": n,
                        },
                        "l": {"id": f"DIV{n}", "parts": []},
                    }
                )
        n_cis += len(cis)
        pages = []
        for p in range(1, n_pages + 1):
            regions = []
            y = 60
            for ci_id in page_regions[p]:
                reg, h = _canonical_region(rng, vocab, ci_id, y)
                regions.append(reg)
                y += h + 20
            page_id = f"{issue_id}-p{p:04d}"
            pages.append(
                {
                    "id": page_id,
                    "cdt": TS,
                    "ts": TS,
                    "st": "newspaper",
                    "sm": "print",
                    "cc": True,
                    "iiif_img_base_uri": f"https://iiif.example.org/{page_id}",
                    "r": regions,
                }
            )
        issue = {
            "id": issue_id,
            "cdt": TS,
            "ts": TS,
            "st": "newspaper",
            "sm": "print",
            "i": cis,
            "pp": [p["id"] for p in pages],
        }
        by_year.setdefault((alias, d.year), []).append(issue)
        page_dir = os.path.join(out_dir, "pages", alias, f"{alias}-{d.year}")
        os.makedirs(page_dir, exist_ok=True)
        _write_jsonl_bz2(os.path.join(page_dir, f"{issue_id}-pages.jsonl.bz2"), pages)
    for (alias, year), issues in sorted(by_year.items()):
        issue_dir = os.path.join(out_dir, "issues", alias)
        os.makedirs(issue_dir, exist_ok=True)
        issues.sort(key=lambda i: i["id"])
        _write_jsonl_bz2(
            os.path.join(issue_dir, f"{alias}-{year}-issues.jsonl.bz2"), issues
        )
    return {
        "issues": n_issues,
        "cis": n_cis,
        "problem_cis": len(problem_ids),
        "problem_digest": digest(problem_ids),
        "max_pages_per_issue": max(page_counts),
    }


def _write_jsonl_bz2(path: str, rows: list[dict]) -> None:
    data = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows)
    with open(path, "wb") as fh:
        fh.write(bz2.compress(data.encode(), 9))


# ---------------------------------------------------------------------------
# Documents parquet
# ---------------------------------------------------------------------------

_BLACKLISTED = ["lorem ipsum dolor sit amet", "enable javascript to continue"]


def gen_documents(out_dir: str, seed: int, n_base: int) -> dict:
    """Write ``documents.parquet``: ``n_base`` distinct documents plus
    near-duplicate variants, exact copies and low-quality documents.

    Bodies are multiples of ten words and boilerplate spans exactly ten,
    so boilerplate aligns with the pipeline's ten-word line-dedup spans.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocabs = {lg: vocabulary(rng, lg, 3000) for lg in LANGS}
    lang_weights = [0.3, 0.25, 0.3, 0.15]
    boiler = {
        lg: [" ".join(rng.choice(vocabs[lg]) for _ in range(10)) for _ in range(6)]
        for lg in LANGS
    }
    docs: list[tuple[str, str]] = []  # (text, lang), id assigned later
    kind: list[str] = []
    group: list[int] = []  # exact-duplicate group (index of the source)

    for _ in range(n_base):
        lg = rng.choices(LANGS, lang_weights)[0]
        words = [rng.choice(vocabs[lg]) for _ in range(10 * rng.randint(6, 30))]
        text = " ".join(words)
        if rng.random() < 0.4:
            text += " " + " ".join(rng.sample(boiler[lg], rng.randint(1, 2)))
        docs.append((text, lg))
        kind.append("base")
        group.append(len(docs) - 1)

    # near-duplicate clusters of heavy-tailed size around random bases
    n_clusters = n_base // 12
    for src in rng.sample(range(n_base), n_clusters):
        text, lg = docs[src]
        for _ in range(min(12, int(rng.paretovariate(1.5)))):
            words = text.split()
            for _ in range(rng.randint(1, 3)):
                pos = rng.randrange(len(words))
                op = rng.random()
                if op < 0.4:
                    words[pos] = rng.choice(vocabs[lg])
                elif op < 0.7:
                    words.insert(pos, rng.choice(vocabs[lg]))
                elif len(words) > 30:
                    del words[pos]
            docs.append((" ".join(words), lg))
            kind.append("near")
            group.append(len(docs) - 1)

    # exact copies of base documents
    for src in rng.sample(range(n_base), n_base // 30):
        docs.append(docs[src])
        kind.append("exact")
        group.append(src)

    # low-quality documents every filter family rejects in its own way
    for i in range(n_base // 12):
        lg = rng.choice(LANGS)
        form = i % 4
        if form == 0:  # too short
            text = " ".join(rng.choice(vocabs[lg]) for _ in range(rng.randint(4, 15)))
        elif form == 1:  # mostly numbers
            text = " ".join(str(rng.randrange(10**6)) for _ in range(60))
        elif form == 2:  # one word dominates
            w = rng.choice(vocabs[lg])
            text = " ".join(
                w if k % 3 else rng.choice(vocabs[lg]) for k in range(90)
            )
        else:  # blacklisted phrase
            text = (
                " ".join(rng.choice(vocabs[lg]) for _ in range(60))
                + " "
                + rng.choice(_BLACKLISTED)
            )
        docs.append((text, lg))
        kind.append("low")
        group.append(len(docs) - 1)

    ids = rng.sample(range(10_000, 10_000 + 50 * len(docs)), len(docs))
    # of every exact-duplicate group the pipeline keeps the min id
    min_id: dict[int, int] = {}
    for k, g in enumerate(group):
        min_id[g] = min(min_id.get(g, ids[k]), ids[k])
    must_drop = [
        ids[k]
        for k in range(len(docs))
        if kind[k] == "low" or (ids[k] != min_id[group[k]])
    ]
    exact_dropped = [
        ids[k] for k in range(len(docs)) if ids[k] != min_id[group[k]]
    ]
    order = sorted(range(len(docs)), key=lambda k: ids[k])
    table = pa.table(
        {
            "doc_id": pa.array([ids[k] for k in order], pa.int64()),
            "text": [docs[k][0] for k in order],
            "lang": [docs[k][1] for k in order],
            "source": [f"src{ids[k] % 7}" for k in order],
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return {
        "docs": len(docs),
        "near_dups": kind.count("near"),
        "exact_dups": len(exact_dropped),
        "low_quality": kind.count("low"),
        "must_drop": sorted(must_drop),
    }
