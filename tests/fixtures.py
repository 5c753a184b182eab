"""Synthetic canonical fixtures (FIXTURES.md shapes).

Builders for issue/page/audio rows used across tests. IDs follow the
canonical templates; content mirrors the reference's sample data shape
(e.g. FedGazDe-1857-01-03-a token rows) without copying any of it.
"""

from __future__ import annotations


def token(tx, c, hy=None, nf=None, gn=None, s=None):
    return {"tx": tx, "c": c, "hy": hy, "nf": nf, "gn": gn, "s": s}


def line(tokens, c=None):
    return {"c": [0, 0, 100, 10] if c is None else c, "t": tokens}


def para(lines, c=None):
    return {"c": [0, 0, 100, 50] if c is None else c, "l": lines}


def region(paras, pOf=None, c=None):
    return {"c": [0, 0, 500, 800] if c is None else c, "pOf": pOf, "p": paras}


def page(page_id, regions, cc=True, iiif="https://iiif.example.org/x/info.json"):
    return {
        "id": page_id,
        "cdt": "2024-01-01 00:00:00",
        "ts": "2024-01-01T00:00:00Z",
        "st": "newspaper",
        "sm": "print",
        "cc": cc,
        "iiif_img_base_uri": iiif,
        "fw": None,
        "fh": None,
        "r": regions,
        "s": None,
        "n": None,
    }


def content_item(
    ci_id,
    pp=None,
    rr=None,
    tp="article",
    t=None,
    lg="fr",
    ro=None,
    iiif_link=None,
    c=None,
    pOf=None,
):
    return {
        "m": {
            "id": ci_id,
            "pp": pp,
            "rr": rr,
            "tp": tp,
            "t": t,
            "lg": lg,
            "ro": ro,
            "iiif_link": iiif_link,
            "cc": None,
            "var_t": None,
            "archival_note": None,
        },
        "l": None,
        "c": c,
        "pOf": pOf,
    }


def issue(issue_id, cis, pp=None, rr=None, st="newspaper", sm="print", rp=None, rc=None):
    return {
        "id": issue_id,
        "cdt": "2024-01-01 00:00:00",
        "ts": "2024-01-01T00:00:00Z",
        "st": st,
        "sm": sm,
        "i": cis,
        "pp": pp,
        "rr": rr,
        "s": None,
        "rp": rp,
        "rc": rc,
        "n": None,
    }


def simple_issue_and_pages():
    """One GDL issue, 2 pages, 2 article CIs (one spans both pages) and one
    image CI. French whitespace rules exercised via punctuation tokens."""
    iid = "GDL-1900-01-02-a"
    ci1, ci2, ci3 = f"{iid}-i0001", f"{iid}-i0002", f"{iid}-i0003"

    p1 = page(
        f"{iid}-p0001",
        [
            region(
                [
                    para(
                        [
                            line(
                                [
                                    token("Bonjour", [0, 0, 50, 10]),
                                    token("le", [55, 0, 20, 10]),
                                    token("monde", [80, 0, 50, 10]),
                                    token(",", [130, 0, 5, 10]),
                                ]
                            ),
                            line(
                                [
                                    token("suite", [0, 12, 40, 10]),
                                    token("arti-", [45, 12, 40, 10], hy=True),
                                ]
                            ),
                        ]
                    )
                ],
                pOf=ci1,
            ),
            region(
                [para([line([token("Publicité", [0, 500, 80, 10])])])],
                pOf=ci2,
            ),
        ],
    )
    p2 = page(
        f"{iid}-p0002",
        [
            region(
                [
                    para(
                        [
                            line(
                                [
                                    token(
                                        "article",
                                        [0, 0, 60, 10],
                                        nf="article",
                                    ),
                                    token("fin", [65, 0, 30, 10]),
                                    token(".", [95, 0, 5, 10]),
                                ]
                            )
                        ]
                    )
                ],
                pOf=ci1,
            )
        ],
    )

    cis = [
        content_item(ci1, pp=[1, 2], tp="article", t="Un article", lg="fr", ro=1),
        content_item(ci2, pp=[1], tp="advertisement", lg="fr", ro=2),
        content_item(
            ci3,
            pp=[1],
            tp="image",
            lg="fr",
            ro=3,
            iiif_link="https://iiif.example.org/x/info.json",
            c=[10, 20, 100, 200],
        ),
    ]
    iss = issue(iid, cis, pp=[f"{iid}-p0001", f"{iid}-p0002"])
    return iss, [p1, p2]


def audio_issue_and_record():
    """One INA-style radio issue with one audio record and one episode CI."""
    iid = "CFCE-1945-07-09-a"
    ci1 = f"{iid}-i0001"
    rec = {
        "id": f"{iid}-r0001",
        "cdt": "2024-01-01 00:00:00",
        "ts": "2024-01-01T00:00:00Z",
        "st": "radio_broadcast",
        "sm": "audio",
        "cc": True,
        "iiif_base_uri": "https://example.org/audio.mp3",
        "stt": "12:00:00",
        "dur": "00:30:00",
        "s": [
            {
                "tc": [0.0, 12.5],
                "pOf": ci1,
                "u": [
                    {
                        "tc": [0.0, 6.0],
                        "ss": [
                            {
                                "tc": [0.0, 6.0],
                                "t": [
                                    {"tx": "bonjour", "tc": [0.0, 0.8]},
                                    {"tx": "à", "tc": [0.9, 0.2]},
                                    {"tx": "tous", "tc": [1.2, 0.5]},
                                ],
                            }
                        ],
                    }
                ],
            }
        ],
        "n": None,
    }
    ci = content_item(ci1, rr=[1], tp="radio_broadcast_episode", lg="fr", ro=1)
    iss = issue(
        iid,
        [ci],
        rr=[f"{iid}-r0001"],
        st="radio_broadcast",
        sm="audio",
        rp="Chronique",
        rc="Radio A",
    )
    return iss, [rec]
