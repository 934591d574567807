"""Answer generation — the pluggable interface standing in for the
reference's LLM calls (SURVEY A18 bluehive_generate_text,
/root/reference/app/main.py:189-242, and A19 OpenAI streaming,
/root/reference/app/main.py:616-647).

The default is a deterministic JVM-side template (format_string) so the
flagship pipeline stays oracle-checkable; `generate_with_pandas_udf`
is the Arrow-batched adapter a real model plugs into.  Error semantics
follow the reference: a failing generation yields NULL (the reference
returns None on HTTP errors, /root/reference/app/main.py:223-242),
never an exception that kills the job.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def deterministic_answer(n_docs: Column, top_doc_id: Column, top_score: Column) -> Column:
    """The stubbed 'LLM': a fixed template over retrieval facts."""
    return F.format_string(
        "Based on %s retrieved documents (best doc %s, score %.6f): see context.",
        n_docs.cast("string"),
        top_doc_id.cast("string"),
        top_score,
    )


def generate_with_pandas_udf(
    prompts: DataFrame,
    generate_fn: Optional[Callable[[list[str]], list[Optional[str]]]] = None,
    max_retries: int = 2,
    backoff_s: float = 0.1,
) -> DataFrame:
    """Batched generation of an `answer` column from `prompt` via an
    Arrow iterator UDF.  `generate_fn` maps
    a batch of prompts to answers (None allowed per-row = generation
    failure).  Concurrency against an external service is bounded by
    partition count — the Spark analog of the reference's semaphore 5
    (/root/reference/app/main.py:31,186): `prompts.coalesce(5)` gives at
    most 5 concurrent in-flight batches.  A raising generate_fn is
    retried max_retries times per batch, then the batch degrades to
    NULL answers — the reference's error path (app/main.py:223-242)."""

    from pyspark.sql.pandas.functions import pandas_udf

    from .resilience import null_answer_fallback, with_retries

    if generate_fn is None:

        def generate_fn(batch: list[str]) -> list[Optional[str]]:
            # deterministic echo-stub: first 8 words of the prompt
            return [
                None if p is None else "STUB_ANSWER: " + " ".join(str(p).split()[:8])
                for p in batch
            ]

    resilient_fn = with_retries(
        generate_fn,
        max_retries=max_retries,
        backoff_s=backoff_s,
        on_exhausted=null_answer_fallback,
    )

    @pandas_udf("string")
    def _gen(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in it:
            yield pd.Series(resilient_fn(batch.tolist()), dtype="object")

    return prompts.withColumn("answer", _gen(F.col("prompt")))
