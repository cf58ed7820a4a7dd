"""Deterministic synthetic transcripts generator (FIXTURES.md §1).

Schema per BASELINE.json input_hint:
  conv_id string, turn_idx int, role string, text string, tool string,
  ts timestamp

Payload mix: 82 golden rows (the 18 C-minted inputs embedded in
tests/goldens/goldens.json, cycled), ~70% plain-text rows (fast-path
coverage, some with charrefs), generated HTML rows over the risky
constructs, byte-edge rows (\\r, \\r\\n).
Conversation sizes follow a Zipf-like skew with mega-conversations to
exercise salting; turn order is written SHUFFLED so the ordering window
is actually exercised. Seeded — same seed, same table, everywhere.
"""

from __future__ import annotations

import datetime
import random

_EPOCH = datetime.datetime(2020, 1, 1, 0, 0, 0)

_PLAIN_WORDS = (
    "the quick brown fox jumps over a lazy dog while spark executors "
    "shuffle partitions of tokenized transcript text for extraction "
    "pipelines running at warehouse scale with vectorized kernels"
).split()

_CHARREF_SNIPPETS = [
    "a &amp; b", "x &lt; y &gt; z", "&hellip; and more", "&copy; 2020",
    "5 &times; 4", "caf&eacute;", "&#65;&#66;&#67;", "&#x2713; done",
    "broken &not-an-entity; here", "&nbsp;spaced&nbsp;",
]

_HTML_TEMPLATES = [
    "<p>{w0} {w1}</p><p>{w2}</p>",
    "<b><i>{w0}</i> {w1}</b> trailing",
    "<b><i>{w0}</b> misnested {w1}</i>",
    "<div><p>{w0} <span>{w1}</span></p></div>",
    "<table><tr><td>{w0}</td><td>{w1}</td></tr></table>",
    "<table><caption>{w0}</caption><tr><td>{w1}</td></tr></table>",
    "<table>{w0}<tr><td>{w1}</td></tr></table>",
    "<ul><li>{w0}<li>{w1}<li>{w2}</ul>",
    "<dl><dt>{w0}<dd>{w1}<dt>{w2}</dl>",
    "<p>{w0}<p>{w1}<p>{w2}",
    "<select><option>{w0}<option>{w1}</select>",
    "<textarea><b>{w0}</b></textarea>",
    "<script>if (a<b) {{ x='</div>'; }}</script><p>{w0}</p>",
    "<style>p {{ color: red; }}</style><p>{w0}</p>",
    "<!-- {w0} --!><p>{w1}</p>",
    "<!-->{w0}",
    "<svg><circle r='1'/><title>{w0}</title></svg>{w1}",
    "<math><mi>{w0}</mi><annotation-xml encoding='text/html'><p>{w1}</p></annotation-xml></math>",
    "<svg><![CDATA[{w0}]]></svg>",
    "<template><tr><td>{w0}</td></tr></template>{w1}",
    "<form id='f1'><input name='{w0}'><button>{w1}</button></form>",
    "<a href='?a=1&b=2'>{w0}</a>",
    "<div data-x=\"{w0}\" data-x='dup' {w1}>content</div>",
    "<h1>{w0}<h2>{w1}",
    "text with literal </ bracket and {w0}",
    "<b>{w0}<table><tr><td><i>{w1}</i></td></tr></table>{w2}</b>",
]

# The inputs of the 18 `synth_*` cases in tests/goldens/goldens.json,
# in file order; their expected dump, serialization and errors were
# minted from the C reference and are checked by tests/test_goldens.py.
_GOLDEN_INPUTS = [
    "<tbody><template ><thead",
    "<tbody><template><thead></thead>",
    "<template><tbody><thead>x",
    "<tbody><template ><tfoot",
    "<table><template><colgroup>",
    "<tr><template><caption>y</caption></template>",
    "<template><table><td>z",
    "<td><template><select><option>o",
    "<template><template><tr><td>n",
    "<template><form><input><form>",
    "<table><template>x</template>y</table>",
    "<tbody><b><thead>t",
    "<table><tr><template><td>c",
    "<b><table><td></b><i></table>w",
    "</html><thead>q",
    "<template><frameset>",
    "<template><meta charset='x'><title>t",
    "<template><script><td></script><td>s",
]

# Golden-row slots per table. 82 is the number of non-encoding document
# fixtures the committed oracle fixtures were minted with; a golden row
# makes no random draw, so the slot count alone fixes the random stream
# and with it every other row of the table.
_N_GOLDEN_ROWS = 82

_BYTE_EDGE = [
    "line1\r\nline2\rline3",
    "solo\rcarriage",
    "tab\tand\ffeed",
]

_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["search", "python", "browser", "calculator"]


def generate_rows(n_turns: int, seed: int = 42, include_fixtures: bool = True):
    """Yield transcript rows as (conv_id, turn_idx, role, text, tool,
    ts) tuples, the transcripts table's column order. Deterministic."""
    rng = random.Random(seed)
    n_golden = _N_GOLDEN_ROWS if include_fixtures else 0

    # conversation size distribution: Zipf-ish with a few mega convs
    rows = []
    conv_i = 0
    produced = 0
    golden_used = 0
    while produced < n_turns:
        conv_id = f"conv{conv_i:06d}"
        r = rng.random()
        if r < 0.02:
            size = rng.randint(200, 400)      # mega-conversation
        elif r < 0.2:
            size = rng.randint(20, 60)
        else:
            size = rng.randint(2, 12)
        size = min(size, n_turns - produced)
        for turn_idx in range(size):
            role = _ROLES[turn_idx % 3]
            tool = rng.choice(_TOOLS) if role == "tool" else None
            p = rng.random()
            if golden_used < n_golden and p < 0.05:
                text = _GOLDEN_INPUTS[golden_used % len(_GOLDEN_INPUTS)]
                golden_used += 1
            elif p < 0.70:
                k = rng.randint(3, 40)
                words = [rng.choice(_PLAIN_WORDS) for _ in range(k)]
                text = " ".join(words)
                if rng.random() < 0.15:
                    text += " " + rng.choice(_CHARREF_SNIPPETS)
            elif p < 0.95:
                tpl = rng.choice(_HTML_TEMPLATES)
                text = tpl.format(
                    w0=rng.choice(_PLAIN_WORDS),
                    w1=rng.choice(_PLAIN_WORDS),
                    w2=rng.choice(_PLAIN_WORDS),
                )
            else:
                text = rng.choice(_BYTE_EDGE)
            ts = _EPOCH + datetime.timedelta(minutes=turn_idx)
            rows.append((conv_id, turn_idx, role, text, tool, ts))
            produced += 1
        conv_i += 1
    # shuffled write order: stable reordering must be done by the reader
    rng.shuffle(rows)
    return rows


def transcripts_df(spark, n_turns: int, seed: int = 42,
                   include_fixtures: bool = True, partitions: int = 32):
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ])
    rows = generate_rows(n_turns, seed, include_fixtures)
    return spark.createDataFrame(rows, schema).repartition(partitions)


def write_transcripts_parquet(spark, path: str, n_turns: int, seed: int = 42,
                              partitions: int = 32):
    df = transcripts_df(spark, n_turns, seed, partitions=partitions)
    df.write.mode("overwrite").parquet(path)
    return path
