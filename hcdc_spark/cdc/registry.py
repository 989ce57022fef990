"""Entity registry: domain filter matching (SURVEY §2A T7/T8/T30).

The reference keeps DomainFilter rules in ZooKeeper and matches each
path in Java (dir-prefix + regex over the suffix,
common/.../filters/DomainFilterMatcher.java:72-95, with a global ignore
regex, core/.../filters/DomainManager.java:38). Rules are few and
change rarely; files are billions. So here the rules are *compiled into
the Catalyst plan* as a CASE WHEN chain of startswith + rlike
predicates — JVM codegen per row, no UDF, no join, broadcast-free. A
rule refresh is a new plan (the reference reloads per batch too,
SourceChangeDeltaProcessor.java:81-82).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Reference global ignore regex (DomainManager.java:38).
IGNORE_REGEX = r"(.*)\.(_*)COPYING(_*)|/tmp/(.*)|(.*)\.hive-staging(.*)"


def scratch_dir(prefix: str) -> str:
    """A fresh work directory for entity-matched demo files: under the
    gitignored ``.scratch/`` of the checkout this package runs from,
    never under /tmp, whose paths IGNORE_REGEX excludes from matching."""
    root = Path(__file__).resolve().parents[2] / ".scratch"
    return str(root / f"{prefix}_{uuid.uuid4().hex[:8]}")


@dataclass(frozen=True)
class DomainFilter:
    domain: str
    entity: str
    path_prefix: str
    regex: str


def load_rules_csv(spark: SparkSession, path: str) -> list[DomainFilter]:
    """Load `domain;entity;path;regex` rules (reference
    DomainFilterLoader.java:30-60, test-domain-loader.csv format)."""
    df = (
        spark.read.option("sep", ";")
        .option("header", "false")
        .csv(path)
        .toDF("domain", "entity", "path", "regex")
    )
    return [
        DomainFilter(r["domain"], r["entity"], r["path"], r["regex"])
        for r in df.collect()
    ]


def _suffix(path_col: Column, prefix: str) -> Column:
    return F.substring(path_col, len(prefix) + 1, 1_000_000)


def _full_match(pattern: str) -> str:
    """Anchor a regex for whole-string semantics: the reference matches
    with java.util.regex ``Matcher.matches()`` (full match,
    DomainFilterMatcher.java:27-30, 82-84) while Spark's ``rlike`` is a
    partial ``find()`` — unanchored, '/tmp/(.*)' would ignore any path
    merely CONTAINING '/tmp/' and rule regexes would match suffixes."""
    return f"^(?:{pattern})$"


def match_entity(path_col: Column, rules: list[DomainFilter]) -> Column:
    """STRUCT(domain, entity) for the first matching rule, else NULL.

    Matching semantics mirror DomainFilterMatcher.matches: the path must
    start with the rule's directory prefix and the remainder must
    full-match the rule's regex; globally-ignored paths (full-match of
    the ignore regex) never match.
    """
    result = F.lit(None).cast("struct<domain:string,entity:string>")
    # First match wins → build the chain back-to-front.
    for r in reversed(rules):
        prefix = r.path_prefix.rstrip("/")
        cond = path_col.startswith(prefix + "/") & _suffix(
            path_col, prefix + "/"
        ).rlike(_full_match(r.regex))
        result = F.when(
            cond,
            F.struct(
                F.lit(r.domain).alias("domain"), F.lit(r.entity).alias("entity")
            ),
        ).otherwise(result)
    return F.when(
        path_col.rlike(_full_match(IGNORE_REGEX)), F.lit(None)
    ).otherwise(result)


def apply_registry(
    events: DataFrame, rules: list[DomainFilter], path_col: str = "path"
) -> DataFrame:
    """Fill domain/entity on events; unmatched rows keep NULLs (the
    reconciler treats them as unregistered, the reference emits
    IgnoreTx for them — SourceTransactionProcessor.java:128-131)."""
    m = match_entity(F.col(path_col), rules)
    return events.withColumn("domain", m["domain"]).withColumn(
        "entity", m["entity"]
    )


def matched_only(events: DataFrame) -> DataFrame:
    return events.where(F.col("domain").isNotNull())
