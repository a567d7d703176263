"""QualityPipeline — the full web-text quality flow (BASELINE.json
north_rule): language ID → perplexity → heuristic rules → PII/toxicity
detect + scrub → keep/drop, as one declarative DataFrame plan.

Physical shape (SURVEY.md §3.4):

  scan (parquet/Iceberg; prune lang partitions when present)
    → repartition(N, salted url hash)          # skew mitigation (N9)
    → sd struct      [Arrow UDF: fused langid+ppl+detect, text/lang/url]
    → rules struct   [native SQL — stays in WholeStageCodegen]
    → reasons        [native SQL]
    → scrubbed_text  [native fold over the entity spans] + keep

Exactly one Python crossing per row, shipping only the columns it
needs. Everything else is Catalyst's problem — and it solves it
(predicate pushdown, column pruning; see tests/test_explain_plan.py).

The output expressions name their inputs only by column, so they are
unresolved and session-independent: they are built once, on the first
call, and every later DataFrame reuses them. Building them costs
thousands of py4j round trips; applying them costs a few dozen.
"""

from typing import Iterable, Optional

from pyspark.sql import DataFrame, functions as F

from .functions.quality import rules_struct_column
from .functions.decision import decision_columns
from .functions.scrubnative import scrub_expr
from .operators.detect import make_fused_udf
from .partitioning import salted_repartition

DEFAULT_LANGUAGES = ("en", "es", "fr", "de")

OUTPUT_COLUMNS = [
    "url", "warc_ts", "lang", "text", "lang_pred", "lang_conf", "logppl",
    "rules", "entities", "n_entities", "scrubbed_text", "keep", "reasons",
]


class QualityPipeline:
    """Configure once on the driver; apply to any pages DataFrame.

    langid+ppl+detect run as ONE Arrow crossing (see
    operators/detect.make_fused_udf): the JVM-side row↔Arrow conversion
    around each ArrowEvalPython stage dominates once the Python kernels
    are vectorized, so one crossing beats two.
    """

    def __init__(self, languages: Iterable[str] = DEFAULT_LANGUAGES,
                 config_json: Optional[str] = None,
                 salt_partitions: Optional[int] = None,
                 from_html: bool = False):
        self.languages = tuple(languages)
        self.config_json = config_json
        self.salt_partitions = salt_partitions
        self.from_html = from_html
        self._stages = None

    def _build(self):
        """The three projections of the plan, as lists of Columns."""
        sd = make_fused_udf(self.languages, self.config_json)(
            F.col("text"), F.col("lang"), F.col("url"))
        _, reasons = decision_columns("rules", "lang", "sd")
        passthrough = [F.col(c) for c in ("url", "warc_ts", "lang", "text")]
        return (
            passthrough + [sd.alias("sd"),
                           rules_struct_column("text", "lang")
                           .alias("rules")],
            passthrough + [F.col("sd"), F.col("rules"),
                           reasons.alias("reasons")],
            passthrough + [
                F.col("sd.lang_pred"), F.col("sd.lang_conf"),
                F.col("sd.logppl"), F.col("rules"), F.col("sd.entities"),
                F.col("sd.n_entities"),
                # scrub natively from the spans, so the full text
                # never crosses Arrow twice (scrubnative)
                scrub_expr(F.col("text"), F.col("sd.entities"))
                .alias("scrubbed_text"),
                (F.size("reasons") == 0).alias("keep"), F.col("reasons"),
            ])

    def __call__(self, pages: DataFrame) -> DataFrame:
        df = pages
        if self.from_html:
            # shared ingestion backfill (functions/htmlextract —
            # codegen, no UDF; NULL-text rows only, see its docstring)
            from .functions.htmlextract import backfill_text_from_html
            df = backfill_text_from_html(df)
        if self.salt_partitions:
            df = salted_repartition(df, "url", self.salt_partitions)
        if self._stages is None:
            self._stages = self._build()
        for cols in self._stages:
            df = df.select(*cols)
        return df

    def kept(self, pages: DataFrame) -> DataFrame:
        return self(pages).where(F.col("keep"))

    def entities(self, pages: DataFrame) -> DataFrame:
        """Exploded PiiCollection replay (FIXTURES.md §3.1)."""
        out = self(pages)
        e = F.explode("entities").alias("e")
        return (out.select("url", e)
                .select("url", "e.type", "e.subtype", "e.value", "e.start",
                        "e.end", "e.lang", "e.country", "e.detector",
                        "e.method", "e.stage"))
