"""The extractor's batch path for compact HTML tables
(``kernels.html_io.compact_html_tables``, used by
``operators.extract._extract_batch``) emits the same rows, in the same
order, as the per-turn loop it shortcuts, kept here as the reference.

Also pins the Arrow-side HTML tool test against ``extract_payload``'s
dispatch, the RE2 whitespace class against ``str.isspace``, and the payload
filter that ``salted`` puts below the exchange."""

import base64
import random
import signal
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

import img2table_spark.operators.extract as extract_mod
from img2table_spark.kernels.encoders import encode_png
from img2table_spark.kernels.html_io import SPACES_RE2, compact_html_tables, parse_html_tables, table_to_html
from img2table_spark.kernels.text import is_relevant_table
from img2table_spark.operators.extract import (
    _html_turns,
    _make_batch_extract_arrow,
    _TableRows,
    extract_payload,
    extract_tables,
)
from img2table_spark.schema import TRANSCRIPT_SCHEMA

N_BATCHES = 300
SPACES = [c for c in map(chr, range(0x110000)) if c.isspace()]
WORDS = ["a", "Bq", "42", "é", "ß", "日本", "\U0001F600", '"q"', "'s'", "a/b", "k=v", "x-y", "\x00", "1.5%"]
HTML_TOOLS = ["text/html", "text/html", "html", "HTML", "Text/Html", " text/html", "text/html; charset=utf-8"]
MUTATIONS = [
    "space", "double_space", "edge_space", "amp", "entity", "lt", "gt", "br", "upper_td", "colspan",
    "span_attrs", "span_sums", "ragged", "trailing_tr", "two_tables", "leading_text", "table_attr", "one_cell",
]
# the attributes table_to_html writes on an unmerged cell
UNIT_SPAN = ' colspan="1" rowspan="1"'
# the span attributes the compact grammar takes, by colspan
SPANS = {
    1: ["", "", "", UNIT_SPAN, ' colspan="1"'],
    2: [' colspan="2"', ' colspan="2" rowspan="1"'],
    3: [' colspan="3"', ' colspan="3" rowspan="1"'],
}
# near misses of them
NOT_SPANS = [
    ' rowspan="1" colspan="1"', " colspan='1' rowspan='1'", ' colspan="1"  rowspan="1"', ' colspan="1" rowspan="2"',
    ' COLSPAN="1" ROWSPAN="1"', ' colspan="1" rowspan="1" ', ' colspan="0"', ' colspan="02"', " colspan=2",
    ' rowspan="1" colspan="2"', ' colspan="2" rowspan="2"', ' rowspan="2"', ' rowspan="1"',
]
# near misses of <br> between words
NOT_BRS = ["a<br/>b", "a<br >b", "a<BR>b", "<br>a", "a<br>", "<br>", "a <br>b", "a<br> b", "a <br> b"]


def _reference_extract(emit_errors: bool):
    """The per-turn batch body: every turn through ``extract_payload``."""

    def _batch_extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            out = _TableRows()
            for conv_id, turn_idx, text, tool in zip(
                b.column("conv_id").to_pylist(),
                b.column("turn_idx").to_pylist(),
                b.column("text").to_pylist(),
                b.column("tool").to_pylist(),
            ):
                try:
                    tables = [t for t in extract_payload(text, tool) if is_relevant_table(t)]
                except Exception as exc:
                    if emit_errors:
                        out.add_error(conv_id, turn_idx, exc)
                    continue
                for i, t in enumerate(tables):
                    out.add(conv_id, turn_idx, i, t)
            yield out.batch()

    return _batch_extract


class _Gen:
    """Seeded transcript batches: compact HTML tables, mutations of them
    that leave the grammar, and non-HTML turns."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.spaces_used: set = set()
        self.mutations_used: set = set()
        self._space = 0

    def value(self) -> str:
        """Words split by single spaces or by runs of <br>."""
        rng = self.rng
        words = [rng.choice(WORDS) for _ in range(rng.choice([0, 1, 1, 2, 3]))]
        seps = [rng.choice([" ", " ", " ", "<br>", "<br><br>"]) for _ in words[1:]] + [""]
        return "".join(w + sep for w, sep in zip(words, seps))

    def grid(self, n_rows=None, n_cols=None) -> list[list[tuple[str, str]]]:
        """Rows of (tag and attributes, value), each row's colspans summing
        to ``n_cols``."""
        rng = self.rng
        n_rows = n_rows or rng.randint(1, 4)
        n_cols = n_cols or rng.randint(1, 4)
        grid = []
        for _ in range(n_rows):
            row, left = [], n_cols
            while left:
                k = min(left, rng.choice([1, 1, 1, 1, 2, 3]))
                row.append((rng.choice("dddh") + rng.choice(SPANS[k]), self.value()))
                left -= k
            grid.append(row)
        return grid

    @staticmethod
    def html(grid, td=("<t{}>", "</t{}>"), attr="") -> str:
        rows = "".join(
            "<tr>" + "".join(td[0].format(k) + v + td[1].format(k[0]) for k, v in row) + "</tr>" for row in grid
        )
        return f"<table{attr}>{rows}</table>"

    def set_value(self, grid, fn) -> None:
        r = self.rng.randrange(len(grid))
        c = self.rng.randrange(len(grid[r]))
        k, v = grid[r][c]
        grid[r][c] = (k, fn(v))

    def mutated(self) -> str:
        rng = self.rng
        kind = MUTATIONS[rng.randrange(len(MUTATIONS))]
        self.mutations_used.add(kind)
        grid = self.grid()
        if kind == "space":
            ch = SPACES[self._space % len(SPACES)]
            self._space += 1
            self.spaces_used.add(ch)
            self.set_value(grid, lambda v: rng.choice([f"x{ch}y", f"{v}{ch}", f"{ch}{v}", f"a{ch}{ch}b"]))
        elif kind == "double_space":
            self.set_value(grid, lambda v: f"{v}  z")
        elif kind == "edge_space":
            self.set_value(grid, lambda v: f" {v} ")
        elif kind == "amp":
            self.set_value(grid, lambda v: f"{v}&b")
        elif kind == "entity":
            self.set_value(grid, lambda v: rng.choice(["&amp;", "&lt;x&gt;", "a &quot;b&quot;", "&#233;"]))
        elif kind == "lt":
            self.set_value(grid, lambda v: rng.choice(["a < b", "<b>bold</b>", "a<", "<3"]))
        elif kind == "gt":
            self.set_value(grid, lambda v: rng.choice(["a > b", "->", ">"]))
        elif kind == "br":
            self.set_value(grid, lambda v: rng.choice(NOT_BRS))
        elif kind == "upper_td":
            return self.html(grid, td=("<T{}>", "</T{}>")).replace("<Th>", "<TH>").replace("<Td>", "<TD>")
        elif kind == "colspan":
            text = self.html(grid)
            return text.replace("<td>", '<td colspan="2">', 1).replace("<th>", '<th rowspan="2">', 1)
        elif kind == "span_attrs":
            r = rng.randrange(len(grid))
            c = rng.randrange(len(grid[r]))
            k, v = grid[r][c]
            grid[r][c] = (k[0] + rng.choice(NOT_SPANS), v)
        elif kind == "span_sums":
            # one cell a column wider: its row covers more columns than the others
            grid = self.grid(n_rows=rng.randint(2, 4))
            r = rng.randrange(len(grid))
            c = rng.randrange(len(grid[r]))
            k, v = grid[r][c]
            span = int(k.split('"')[1]) if "colspan" in k else 1
            grid[r][c] = (k[0] + rng.choice(SPANS[span + 1] if span < 3 else [' colspan="4"']), v)
        elif kind == "ragged":
            grid = self.grid(n_rows=rng.randint(2, 4))
            r = rng.randrange(len(grid))
            if len(grid[r]) > 1 and rng.random() < 0.5:
                grid[r].pop()
            else:
                grid[r].append(("d", self.value()))
        elif kind == "trailing_tr":
            return self.html(grid)[: -len("</table>")] + "<tr></tr></table>"
        elif kind == "two_tables":
            return self.html(grid) + self.html(self.grid())
        elif kind == "leading_text":
            return rng.choice(["see: ", " ", "\n"]) + self.html(grid)
        elif kind == "table_attr":
            return self.html(grid, attr=' border="1"')
        elif kind == "one_cell":
            grid = self.grid(n_rows=1, n_cols=1)
        return self.html(grid)

    def rendered(self) -> str:
        """``table_to_html`` of a parsed table: unit spans on every cell, or
        real ones where a value spans two cells."""
        grid = self.grid()
        if self.rng.random() < 0.3 and len(grid[0]) > 1:
            grid[0][1] = grid[0][0]
        tables = parse_html_tables(self.html(grid))
        return table_to_html(tables[0]) if tables else self.html(grid)

    def turn(self) -> tuple[str | None, str | None]:
        rng = self.rng
        u = rng.random()
        if u < 0.40:
            return self.html(self.grid()), rng.choice(HTML_TOOLS)
        if u < 0.50:
            return self.rendered(), rng.choice(HTML_TOOLS)
        if u < 0.78:
            return self.mutated(), rng.choice(HTML_TOOLS)
        if u < 0.86:
            return self.value() or "plain prose", rng.choice(["text/plain", "", "unknown/tool"])
        if u < 0.90:
            return None, rng.choice(HTML_TOOLS)
        if u < 0.94:
            return self.html(self.grid()), rng.choice([None, "htm", "text/plain"])
        if u < 0.97:
            return "!!not-base64", "image/png"
        return base64.b64encode(b"%PDF-1.4 truncated").decode(), "application/pdf"

    def batch(self) -> pa.RecordBatch:
        n = self.rng.choice([0, 1, 2, 5, 17, 32, 40, 64])
        turns = [self.turn() for _ in range(n)]
        return _batch(
            [f"c{self.rng.randrange(4)}" for _ in range(n)],
            list(range(n)),
            [t for t, _ in turns],
            [k for _, k in turns],
        )


def _batch(conv, turn, text, tool, tool_type=pa.string()) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(conv, pa.string()), pa.array(turn, pa.int32()), pa.array(text, pa.string()), pa.array(tool, tool_type)],
        names=["conv_id", "turn_idx", "text", "tool"],
    )


def _assert_same(batches, emit_errors) -> None:
    got = list(_make_batch_extract_arrow(emit_errors)(iter(batches)))
    want = list(_reference_extract(emit_errors)(iter(batches)))
    assert len(got) == len(want)
    for i, (g, w) in enumerate(zip(got, want)):
        assert g.schema == w.schema
        assert g.equals(w), (i, batches[i].to_pylist(), g.to_pylist(), w.to_pylist())


def _batch_path_texts(b: pa.RecordBatch) -> list[str]:
    """The payloads of ``b`` whose rows the batch path builds."""
    html = _html_turns(b.column("text"), b.column("tool"))
    if not len(html):
        return []
    owned = compact_html_tables(b.column("text").take(pa.array(html))).owned
    return b.column("text").take(pa.array(html[owned])).to_pylist()


def _n_batch_path(b: pa.RecordBatch) -> int:
    return len(_batch_path_texts(b))


@pytest.mark.parametrize("emit_errors", [False, True])
def test_batch_path_equals_per_turn_reference(emit_errors):
    gen = _Gen(seed=1500 + emit_errors)
    batches = [gen.batch() for _ in range(N_BATCHES)]
    _assert_same(batches, emit_errors)
    # the corpus reaches every branch: each whitespace code point and each
    # way out of the grammar, and most HTML turns take the batch path
    assert gen.spaces_used == set(SPACES)
    assert gen.mutations_used == set(MUTATIONS)
    n_rows = sum(b.num_rows for b in batches)
    owned = [text for b in batches for text in _batch_path_texts(b)]
    assert len(owned) >= 0.35 * n_rows
    # merged cells and line breaks of every kind take the batch path
    for part in ('<td colspan="2">', '<th colspan="3" rowspan="1">', ' colspan="1">', UNIT_SPAN, "<br><br>"):
        assert any(part in text for text in owned), part
    assert any(b.num_rows == 0 for b in batches)


def test_edge_batches_equal_the_reference():
    html = "<table><tr><td>a</td><td>b</td></tr></table>"
    rendered = table_to_html(parse_html_tables(html)[0])
    assert rendered == '<table><tr><td colspan="1" rowspan="1">a</td><td colspan="1" rowspan="1">b</td></tr></table>'
    png = base64.b64encode(encode_png(np.full((24, 32, 3), 255, np.uint8))).decode()
    edge = [
        _batch([], [], [], []),
        # all pixel payloads: nothing is HTML, so nothing is scanned
        _batch(["c0", "c0", "c1"], [0, 1, 2], [png, "!!not-base64", png], ["image/png", "image/png", "IMAGE/PNG"]),
        # a tool column with no value, typed string and null-typed
        _batch(["c0", "c1"], [0, 1], [html, html], [None, None]),
        _batch(["c0", "c1"], [0, 1], [html, html], [None, None], tool_type=pa.null()),
        # only the batch path, also on the renderer's own output
        _batch(["c0", "c1"], [0, 1], [html, html.replace("td", "th")], ["html", "text/html"]),
        _batch(["c0", "c1"], [0, 1], [rendered, rendered.replace(">a<", ">a b<")], ["html", "text/html"]),
    ]
    for emit_errors in (False, True):
        _assert_same(edge, emit_errors)
    assert _n_batch_path(edge[-2]) == 2 and _n_batch_path(edge[-1]) == 2


def test_large_merged_cell_extracts_in_bounded_time():
    """One cell spanning 60 rows and 60 columns leaves the compact grammar;
    its 3600 positions fill their box, so the renderer takes that box as the
    cell's one rectangle instead of scanning every sub-rectangle of it
    (O(R²C²·n), minutes at this size)."""
    html = '<table><tr><td colspan="60" rowspan="60">x</td></tr></table>'

    def timeout(signum, frame):
        raise TimeoutError("a 60x60 merged cell took over 5 s")

    previous = signal.signal(signal.SIGALRM, timeout)
    signal.alarm(5)
    try:
        rows = extract_mod._extract_batch(_batch(["c0"], [0], [html], ["text/html"]), emit_errors=True)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, previous)
    [row] = rows.to_pylist()
    assert (row["table_idx"], row["n_rows"], row["n_cols"]) == (0, 60, 60)
    # HTML splits a span over both axes into columns
    columns = '<td colspan="1" rowspan="60">x</td>' * 60
    assert row["html"] == f"<table><tr>{columns}</tr>{'<tr></tr>' * 59}</table>"
    assert {(c["x1"], c["y1"], c["x2"], c["y2"], c["value"]) for c in row["cells"]} == {(0, 0, 6000, 1200, "x")}


# the dispatch rule extract_payload applies, and the cases it turns on
TOOLS = ["text/html", "html", "HTML", "Text/Html", " text/html", "text/html; charset=utf-8", "html\n", "htm", "", None]


@pytest.mark.parametrize("tool", TOOLS)
def test_html_turns_match_dispatch(tool, monkeypatch):
    """``_html_turns`` picks exactly the turns ``extract_payload`` hands to
    the HTML parser."""
    called = []
    monkeypatch.setattr(extract_mod, "parse_html_tables", lambda text: called.append(text) or [])
    extract_payload("payload", tool)
    got = _html_turns(pa.array(["payload", None], pa.string()), pa.array([tool, tool], pa.string()))
    assert list(got) == ([0] if called else [])


def test_spaces_class_is_str_isspace():
    """``SPACES_RE2`` matches exactly the code points ``str.split()`` splits
    on (surrogates have no UTF-8 form, so are left out)."""
    cps = [c for c in range(0x110000) if not 0xD800 <= c < 0xE000]
    got = pc.match_substring_regex(pa.array([chr(c) for c in cps]), f"^[{SPACES_RE2}]$")
    got = np.flatnonzero(got.to_numpy(zero_copy_only=False))
    assert [chr(cps[i]) for i in got] == SPACES
    assert len(SPACES) == 29


# ------------------------------------------------- the pre-exchange filter


def test_salted_filters_non_payload_turns_below_the_exchange(spark):
    """``salted`` drops turns that can emit no row (null text, non-payload
    tool) before its one exchange, and the extracted rows, error markers
    included, are the rows of the unfiltered plan."""
    import datetime as dt

    from img2table_spark.operators.extract import with_salt

    ts = dt.datetime(2026, 1, 1)
    html = "<table><tr><td>a</td><td>b</td></tr></table>"
    rows = [
        ("m0", 0, "a", "plain prose", "text/plain", ts),
        ("m0", 1, "a", None, "text/html", ts),
        ("m0", 2, "a", html, None, ts),
        ("m0", 3, "a", html, "unknown/tool", ts),
        ("m1", 0, "a", html, "text/html", ts),
        ("m1", 1, "a", html.replace("<td>a", '<td colspan="2">a'), "HTML", ts),
        ("m1", 2, "a", "!!not-base64", "image/png", ts),
        ("m2", 0, "a", base64.b64encode(encode_png(np.full((24, 32, 3), 255, np.uint8))).decode(), "image/png", ts),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)

    ext = extract_tables(df, num_partitions=4, emit_errors=True)
    lines = ext._jdf.queryExecution().executedPlan().toString().splitlines()
    exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    filters = [i for i, ln in enumerate(lines) if "Filter" in ln]
    assert len(exchanges) == 1 and sum("MapInArrow" in ln for ln in lines) == 1
    assert filters and all(i > exchanges[0] for i in filters), lines
    assert any("isnotnull(text" in lines[i] for i in filters), lines

    slim = df.select("conv_id", "turn_idx", "text", "tool")
    unfiltered = slim.repartition(4, with_salt(slim)).mapInArrow(
        _make_batch_extract_arrow(emit_errors=True), ext.schema
    )

    def key(r):
        return (r["conv_id"], r["turn_idx"], r["table_idx"])

    got = sorted(ext.collect(), key=key)
    assert got == sorted(unfiltered.collect(), key=key)
    assert [key(r) for r in got] == [("m1", 0, 0), ("m1", 1, 0), ("m1", 2, -1)]


def test_document_transcripts_take_the_batch_path(spark, tmp_path):
    """Every HTML turn ``transcripts_from_documents`` writes (the turns of
    q01 and of the ``html_turns`` benchmark) is owned by
    ``compact_html_tables``, so none of them reaches the per-turn parser."""
    import pyarrow.parquet as pq

    from img2table_spark.sources.transcripts import transcripts_from_documents

    rng = random.Random(7)
    vocab = "batch part spark line column order small sort fast value scan hash the a of".split()
    # 330 documents reach every (rows, cols, merged, plain-text) combination
    docs = [(d, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))) for d in range(330)]
    pq.write_table(
        pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()), "text": [t for _, t in docs]}),
        tmp_path / "documents.parquet",
    )
    turns = transcripts_from_documents(spark, str(tmp_path)).select("text", "tool").collect()
    text = pa.array([r["text"] for r in turns], pa.string())
    html = _html_turns(text, pa.array([r["tool"] for r in turns], pa.string()))
    assert len(html) == sum(1 for d, _ in docs if d % 11 != 3)
    assert any('<td colspan="2">' in text[int(k)].as_py() for k in html)
    compact = compact_html_tables(text.take(pa.array(html)))
    assert compact.owned.all()
    assert len(compact.src) == len(html)
