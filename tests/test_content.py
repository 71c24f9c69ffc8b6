"""Link-density content extraction: hand-built pages with known block
structure, keep/drop verdicts, density math, and the zero-shuffle scoring
plan."""

from __future__ import annotations

from llm_document_parser_spark.operators.content import (
    content_blocks,
    score_blocks,
)

_LONG = "word " * 12  # 60 visible chars after normalization (trailing trim)


def _pages(spark):
    rows = [
        (
            "u1",
            '<nav><a href="/">Home</a> <a href="/x">All articles</a></nav>'
            f"<p>{_LONG}</p>"
            f'<p>{_LONG} see <a href="/d">details</a></p>'
            "<footer>(c) site</footer>",
        ),
        ("u2", "<p>short</p>"),
        ("u3", f"<div><B>bold</B> {_LONG}</div>"),
    ]
    return spark.createDataFrame(rows, "url string, html string")


def test_block_scores_and_verdicts(spark):
    got = {
        (r["url"], r["block_idx"]): r
        for r in content_blocks(_pages(spark), min_chars=30).collect()
    }
    # u1: nav content is all-anchor → dropped; both <p>s kept; footer short
    u1 = [v for (u, _), v in sorted(got.items()) if u == "u1"]
    kept_texts = [r["block_text"] for r in u1 if r["kept"] == 1]
    assert len(kept_texts) == 2
    assert kept_texts[0] == _LONG.strip()
    assert kept_texts[1].endswith("see details")
    nav = next(r for r in u1 if "Home" in r["block_text"])
    # inter-anchor whitespace is visible but not anchor text, so
    # link_chars is one short of n_chars; density still far over 0.4
    assert nav["kept"] == 0 and nav["link_density"] > 0.4
    assert nav["link_chars"] == nav["n_chars"] - 1
    footer = next(r for r in u1 if "(c) site" in r["block_text"])
    assert footer["kept"] == 0 and footer["n_chars"] < 30
    # u2: single short block dropped
    assert all(r["kept"] == 0 for (u, _), r in got.items() if u == "u2")
    # u3: inline <b> stripped from visible text, block kept
    u3_kept = [r for (u, _), r in got.items() if u == "u3" and r["kept"] == 1]
    assert len(u3_kept) == 1
    assert u3_kept[0]["block_text"].startswith("bold word")
    assert u3_kept[0]["link_chars"] == 0


def test_density_math(spark):
    rows = [("u", '<p>aaaaa <a href="x">bbbbb</a></p>')]
    df = spark.createDataFrame(rows, "url string, html string")
    r = next(
        b for b in score_blocks(df).collect() if b["n_chars"] > 0
    )
    assert r["n_chars"] == 11  # "aaaaa bbbbb"
    assert r["link_chars"] == 5
    assert r["link_density"] == round(5 / 11, 6)


def test_scoring_plan_has_no_exchange(spark):
    plan = score_blocks(_pages(spark))
    physical = plan._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in physical, physical


# ---------------------------------------------------------------------------
# heading outline
# ---------------------------------------------------------------------------


def test_extract_headings_order_and_strip(spark):
    df = spark.createDataFrame(
        [
            (
                "u1",
                '<h1 id="t">Main <em>Title</em></h1><p>x</p>'
                "<h2>Part\n  One</h2><H3>threes</H3>",
            ),
            ("u2", "<p>no headings here</p>"),
        ],
        "url string, html string",
    )
    from llm_document_parser_spark.operators.content import extract_headings

    rows = sorted(extract_headings(df).collect(), key=lambda r: r["pos"])
    assert [r["url"] for r in rows] == ["u1"] * 3  # u2 emits nothing
    assert [(r["pos"], r["level"], r["heading"]) for r in rows] == [
        (0, 1, "Main Title"),  # inline tag stripped, space collapsed
        (1, 2, "Part One"),  # newline whitespace collapsed
        (2, 3, "threes"),  # case-insensitive tag match
    ]


def test_heading_outline_reset_rule(spark):
    from llm_document_parser_spark.operators.content import heading_outline

    html = (
        "<h1>Top A</h1><h2>Sec B</h2><h3>Sub C</h3>"
        "<h2>Sec D</h2><h1>Top E</h1><h3>Sub F</h3><h6>Deep G</h6>"
    )
    got = {
        r["heading"]: r["section_path"]
        for r in heading_outline(
            spark.createDataFrame([("u", html)], "url string, html string")
        ).collect()
    }
    assert got == {
        "Top A": "",
        "Sec B": "Top A",
        "Sub C": "Top A > Sec B",
        "Sec D": "Top A",
        "Top E": "",
        # Sec B / Sec D precede Top E → stale, must NOT govern Sub F
        "Sub F": "Top E",
        "Deep G": "Top E > Sub F",
    }


def test_heading_outline_single_window_plan(spark):
    from llm_document_parser_spark.operators.content import heading_outline

    df = spark.createDataFrame([("u", "<h1>a</h1>")], "url string, html string")
    plan = heading_outline(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # all ten window exprs share one shuffle
    assert plan.count("Window") == 1
