"""S7 — OBO stanza source, Spark-native and shuffle-free.

Reference: src/import_ontology.py:192-268 — a stateful line machine: `[Term]`
starts a stanza, `key: value` lines accumulate, `is_a:` repeats, obsolete
terms are discarded mid-stanza, and the final stanza is flushed at EOF.

All of the build's OBO files are read in ONE ``wholetext`` scan (one file =
one row = one task) and each is split into one row per stanza at every newline that is followed by ``[`` —
the same "a line starting with ``[`` opens a stanza" rule as the reference.
Every key is then pulled out of its stanza's text with a multiline regex, so
the plan is scan → generate → project → filter: no Window, no Aggregate and
no Exchange. Ontology files are ≤ tens of MB (GO ~35 MB), far under the
2 GB string cap, and ontology releases ship as files, so the file is the
unit of parallelism. The ontology build (plans.loaders.build_ontology)
collects the parsed terms once and does the rest on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _values(key: str):
    """Every value of ``key: value`` lines in the stanza, in order. ``.``
    stops at any line terminator, so a CRLF line's ``\\r`` stays out."""
    return F.regexp_extract_all("text", F.lit(f"(?m)^{key}: (.*)$"), 1)


def _value(key: str):
    """The greatest value of a key (a repeated key keeps its max); null if
    the stanza has none."""
    return F.array_max(_values(key))


def read_obo_terms(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Parse the OBO files under ``paths`` → one row per non-obsolete
    [Term] stanza.

    Output: (file, stanza, id, name, namespace, def, is_a ARRAY<STRING>)
    where ``stanza`` numbers the file's stanzas from 1 (the preamble is 0),
    a repeated key keeps its greatest value, and is_a holds the sorted bare
    parent ids (`` ! comment`` suffix stripped — reference
    src/import_ontology.py:246-251).
    """
    # NOTE: must be the ``wholetext=True`` kwarg — in PySpark 4.1 the
    # ``.option("wholetext", "true")`` spelling is silently ignored for the
    # text source and the file comes back line-split.
    # The leading newline makes chunk 0 the preamble (empty when the file
    # opens with a stanza), so the chunk position is the stanza number.
    stanzas = spark.read.text(paths, wholetext=True).select(
        F.input_file_name().alias("file"),
        F.posexplode(
            F.split(F.concat(F.lit("\n"), "value"), r"\n(?=\[)")
        ).alias("stanza", "text"),
    )
    return (
        stanzas.filter(
            F.col("text").rlike(r"^\[Term\]\r?(\n|$)")
            & ~_value("is_obsolete").eqNullSafe("true")  # F4
        )
        .select(
            "file",
            F.col("stanza").cast("long").alias("stanza"),
            *(_value(k).alias(k) for k in ("id", "name", "namespace", "def")),
            F.sort_array(
                F.transform(_values("is_a"), lambda v: F.trim(F.split(v, "!")[0]))
            ).alias("is_a"),
        )
        .filter(F.col("id").isNotNull())
    )
