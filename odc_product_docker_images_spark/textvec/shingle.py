"""Shared k-word shingle expression (SURVEY.md §2.10 X2).

Lives in its own non-registering module so every consumer (the dedup
family, the pairwise near-dup closures, curation's repetition scoring)
can import it without triggering another module's query-key registrations
— registration ORDER is load-bearing for the driver's grading window
(see registry._MODULES).

Linear in document length: the text is split ONCE and shingle position
``p`` is row ``p`` of ``arrays_zip`` over k shifted ``slice``s of that one
token array, so the lambda only concatenates k struct fields.  Indexing
``element_at(split(text), i + j)`` inside the lambda instead re-splits the
whole text for every shingle term — O(k·n²) per n-token document.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _shingles(col: str = "text", k: int = 3, distinct: bool = True) -> F.Column:
    """k-word shingles as an array column (pure exprs); ``distinct=False``
    keeps positional duplicates (intra-doc repetition scoring needs them).
    Fewer than k tokens, or null text, gives an empty array."""
    toks = F.split(F.col(col), " ")
    n = F.size(toks)
    # slice lengths must be >= 0 even where the guard below discards them
    m = F.greatest(n - (k - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, m).alias(f"t{j}") for j in range(k)])
    make = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"t{j}"] for j in range(k)])
    )
    if distinct:
        make = F.array_distinct(make)
    return F.when(n >= k, make).otherwise(F.array().cast("array<string>"))
