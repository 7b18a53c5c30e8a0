"""Cypher MERGE-corpus parser → property-graph DataFrames (SURVEY.md §2-D1-D3).

The reference loads a 3,443-block corpus of Cypher ``MERGE`` statements
(node upserts with SET props + ``IS_PARENT_TO`` edge merges) into Memgraph
one statement at a time over bolt (load_memgraph.py:46-76). Spark-native:
parse the corpus INTO ``vertices``/``edges`` DataFrames in one distributed
pass, then graph queries are joins (operators/graph.py).

Corpus block shape (cypher_queries_clean.json, e.g. block 1):
    MERGE (parent:Mission {id:'X'}) SET parent.mission_number = '…',
        parent.title = '…', parent.comments = ['…', …]
    MERGE (child:Mission {id:'Y'}) SET …
    MERGE (parent:Mission {id:'X'}) MERGE (child:Mission {id:'Y'})
        MERGE (parent)-[:IS_PARENT_TO]->(child)

Parsing is irregular text, not relational work, so it runs as an
Arrow-batched ``mapInPandas`` kernel (the sanctioned Python escape hatch):
one pass per record batch, no driver collection, linear in corpus bytes.
Field-name anchors (``.title = '`` … ``', x.comments = [``) delimit
values, so titles/comments containing apostrophes parse correctly.

MERGE semantics: node upserts are idempotent and later SETs win —
reproduced by keeping each id's LAST parsed occurrence (window dedup);
edge MERGE dedups on (src, dst).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PARSED_SCHEMA = StructType(
    [
        StructField("kind", StringType()),  # 'v' | 'e'
        StructField("block_id", LongType()),
        StructField("stmt_no", LongType()),
        StructField("id", StringType()),
        StructField("mission_number", StringType()),
        StructField("title", StringType()),
        StructField("comments", ArrayType(StringType())),
        StructField("src", StringType()),
        StructField("dst", StringType()),
    ]
)

VERTEX_COLS = ("id", "mission_number", "title", "comments")


def _make_parser():
    """Factory wrapper: the returned function has a nested qualname, so
    cloudpickle ships it BY VALUE to Python workers — a plain module-level
    function would pickle by reference and require this package on every
    worker's sys.path (not true for a caller-owned bare session)."""

    def parse_statements(block: str) -> list[dict]:
        """Parse one corpus block (pure Python; shipped by value to workers)."""
        id_re = re.compile(r"MERGE \(\w+:Mission \{id:\s*'([^']*)'\}\)")
        out: list[dict] = []
        for stmt_no, line in enumerate(block.split("\n")):
            line = line.strip()
            if not line:
                continue
            ids = id_re.findall(line)
            if "-[:IS_PARENT_TO]->" in line:
                if len(ids) >= 2:
                    out.append(
                        {"kind": "e", "stmt_no": stmt_no, "src": ids[0], "dst": ids[1]}
                    )
                continue
            if " SET " not in line or not ids:
                continue
            # Anchor on the property names, not on quote pairs — values may
            # contain apostrophes.
            m = re.search(
                r"SET \w+\.mission_number = '(.*)', \w+\.title = '(.*)', \w+\.comments = \[(.*)\]\s*$",
                line,
            )
            if not m:
                continue
            mission_number, title, comments_raw = m.groups()
            comments = (
                [c for c in re.split(r"',\s*'", comments_raw.strip("'")) if c != ""]
                if comments_raw.strip()
                else []
            )
            out.append(
                {
                    "kind": "v",
                    "stmt_no": stmt_no,
                    "id": ids[0],
                    "mission_number": mission_number,
                    "title": title,
                    "comments": comments,
                }
            )
        return out

    return parse_statements


parse_statements = _make_parser()


def parse_corpus(corpus: DataFrame, cypher_col: str = "cypher") -> DataFrame:
    """Distributed parse: corpus(block_id, cypher) → long-form statement
    rows (kind='v' nodes, kind='e' edges)."""
    import pandas as pd

    statement_parser = parse_statements  # closure-captured, shipped by value

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for block_id, text in zip(pdf["block_id"], pdf[cypher_col]):
                for st in statement_parser(text or ""):
                    rows.append(
                        {
                            "kind": st["kind"],
                            "block_id": int(block_id),
                            "stmt_no": st["stmt_no"],
                            "id": st.get("id"),
                            "mission_number": st.get("mission_number"),
                            "title": st.get("title"),
                            "comments": st.get("comments"),
                            "src": st.get("src"),
                            "dst": st.get("dst"),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in PARSED_SCHEMA.fields],
            )

    return corpus.mapInPandas(run, schema=PARSED_SCHEMA)


def corpus_to_graph(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(vertices, edges) with MERGE upsert semantics: last SET per node id
    wins (D2), edges deduped on (src, dst) (D3)."""
    parsed = parse_corpus(corpus)
    w = Window.partitionBy("id").orderBy(F.desc("block_id"), F.desc("stmt_no"))
    vertices = (
        parsed.filter(F.col("kind") == "v")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*VERTEX_COLS)
    )
    edges = (
        parsed.filter(F.col("kind") == "e")
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    return vertices, edges


def synthetic_corpus(spark, n_chains: int = 40, chain_len: int = 4) -> DataFrame:
    """Deterministic corpus fixture shaped like the reference data
    (apostrophes in titles, multi-comment arrays, shared parents)."""
    blocks = []
    nid = 0
    for c in range(n_chains):
        for h in range(chain_len - 1):
            pid, cid = 500000 + c * 100 + h, 500000 + c * 100 + h + 1
            p_com = (
                "['Per POC- assets demobilized', 'Mission re-tasked to Logs']"
                if h % 2 == 0
                else "[]"
            )
            blocks.append(
                {
                    "block_id": nid,
                    "cypher": (
                        f"MERGE (parent:Mission {{id:'{pid}'}}) SET parent.mission_number = "
                        f"'{c:05d}', parent.title = 'Gov''s request {c}-{h} for FHP support', "
                        f"parent.comments = {p_com}\n"
                        f"MERGE (child:Mission {{id:'{cid}'}}) SET child.mission_number = "
                        f"'{c:05d}b', child.title = 'Fuel support {c}-{h}', child.comments = []\n"
                        f"MERGE (parent:Mission {{id:'{pid}'}}) MERGE (child:Mission {{id:'{cid}'}}) "
                        f"MERGE (parent)-[:IS_PARENT_TO]->(child)"
                    ),
                }
            )
            nid += 1
    return spark.createDataFrame(blocks, "block_id long, cypher string")
