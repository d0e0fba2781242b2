"""Column-level helper functions shared across plans.

Kept intentionally small: a kernel that one plan owns lives next to
that plan (plans/similarity.py has the dot/norm kernels, plans/dedup.py
the minhash/simhash columns). Helpers that several plan modules call
land here: ``scale`` (partition spreading and ``two_pass_cumsum``,
the one two-pass scan kernel behind every global running sum and,
over ``F.lit(1)``, every global rank), ``stats`` (the six-sum moment
fold and the ordered fold of gotcha #15), ``text`` (the text front
end — tokenizer, word count, k-gram lead chain, the quality closed
form and BM25), ``pairs`` (the blocked candidate-pair core and the
both-directions edge list) and ``grain`` (the UTC day, integer cents
and Knuth hash split). Each helper an oracle mirrors has its DuckDB
twin next to it.
"""
