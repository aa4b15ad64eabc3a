"""spark-submit entry point: BM25 top-k retrieval.

    spark-submit --py-files engine.zip scripts/search.py \
        --index /path/index --queries /path/queries_parquet \
        [--k 10] [--mode wand|taat|phrase] [--require-all] \
        [--min-should-match M] [--must-not "excluded terms"] \
        [--out /path/results]

``--index`` accepts a comma-separated chain (base,delta,...) —
tombstone deltas are masked automatically. ``--mode phrase`` treats
each query text as a phrase (match_phrase over the positional
postings); ``--slop N`` relaxes it to proximity matching (ES
match_phrase slop — transpositions match at slop 2);
``--require-all`` makes wand/taat conjunctive (bool.must);
``--min-should-match M`` keeps docs matching >= M analyzed terms
(bool.should + minimum_should_match); ``--must-not TEXT`` excludes
docs matching ANY term of TEXT (bool.must_not, non-scoring) — it
applies to every query, on top of any per-query ``neg_qtext`` column
already present in the queries parquet.
"""

from __future__ import annotations

import argparse
import os
import sys

# runnable both via `spark-submit --py-files engine.zip` and directly
# from a checkout (python scripts/build_index.py ...)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode", choices=["wand", "taat", "phrase", "prefix",
                                       "phrase-prefix", "multi-match",
                                       "wildcard", "regexp", "boosting",
                                       "constant-score", "rescore",
                                       "span-near", "span-not",
                                       "span-first", "match-bool-prefix"],
                    default="wand",
                    help="wand = default dispatcher (chunk-parallel, fan-out "
                         "auto-sized from index stats; --ranges N fixes it, "
                         "--ranges 1 is one group per query); "
                         "prefix treats each qtext as a `pre*` wildcard "
                         "(dictionary-expanded, scoring_boolean rewrite); "
                         "phrase-prefix = ES match_phrase_prefix (exact "
                         "phrase, trailing token dictionary-expanded, 50-"
                         "expansion cap); multi-match searches a multi-field "
                         "index root (see --fields/--combine); wildcard "
                         "treats each qtext as an ES wildcard pattern "
                         "(`wi*d`, `w?rd`); regexp as a whole-term-anchored "
                         "regex — both dictionary-expanded like prefix; "
                         "boosting demotes docs matching the negative query "
                         "(--negative / per-query neg_qtext column) by "
                         "--negative-boost instead of excluding them; "
                         "constant-score scores every match --boost (docid-"
                         "asc ranks); rescore re-ranks the top "
                         "--rescore-window primary hits with a match_phrase "
                         "secondary weighted --rescore-weight")
    ap.add_argument("--ranges", type=int, default=None,
                    help="override the docid-range fan-out (default: from stats)")
    ap.add_argument("--slop", type=int, default=0,
                    help="phrase mode: max pairwise displacement between the "
                         "query's token layout and the matched positions "
                         "(max-min adjusted window <= slop; transpositions "
                         "match at slop 2) -- NOT a sum over tokens")
    ap.add_argument("--require-all", action="store_true",
                    help="conjunctive bool.must: docs must match every "
                         "analyzed query term")
    ap.add_argument("--min-should-match", type=int, default=None,
                    help="bool.should minimum_should_match: docs must match "
                         "at least M distinct analyzed query terms")
    ap.add_argument("--unordered", action="store_true",
                    help="span-near mode: drop the in-order constraint "
                         "(Lucene NearSpansUnordered)")
    ap.add_argument("--exclude", default=None,
                    help="span-not mode: the excluded term (no occurrence "
                         "within --pre/--post of an include-phrase match)")
    ap.add_argument("--pre", type=int, default=0,
                    help="span-not mode: guard band before the include span")
    ap.add_argument("--post", type=int, default=0,
                    help="span-not mode: guard band after the include span")
    ap.add_argument("--first-end", type=int, default=None,
                    help="span-first mode: the term must occur at a "
                         "0-based position < this bound")
    ap.add_argument("--score-mode", choices=["bm25", "proximity"],
                    default="bm25",
                    help="'proximity' weights BM25 by 1/(1+min window "
                         "width) so the closest match ranks first — on "
                         "phrase mode (best sloppy-match window) and on "
                         "wand/taat modes (min window covering every "
                         "matched positive term)")
    ap.add_argument("--must-not", default=None, metavar="TEXT",
                    help="bool.must_not: exclude docs matching ANY analyzed "
                         "term of TEXT (applied to every query)")
    ap.add_argument("--must", default=None, metavar="TEXT",
                    help="mixed bool.must: docs must match EVERY analyzed "
                         "term of TEXT while the query text becomes optional "
                         "should clauses (applied to every query)")
    ap.add_argument("--fields", default=None,
                    help="multi-match: comma list with optional ^boost, e.g. "
                         "'text,title^2' (default: every field in the index "
                         "root's manifest, boost 1)")
    ap.add_argument("--combine", choices=["best_fields", "most_fields"],
                    default="best_fields",
                    help="multi-match combination mode (ES multi_match type)")
    ap.add_argument("--tie-breaker", type=float, default=0.0,
                    help="multi-match best_fields: blend factor for the "
                         "non-best fields' scores (ES dis_max tie_breaker)")
    ap.add_argument("--negative", default=None, metavar="TEXT",
                    help="boosting mode: the negative (demoting) query "
                         "applied to every query row, concatenated with any "
                         "per-query neg_qtext column")
    ap.add_argument("--negative-boost", type=float, default=0.5,
                    help="boosting mode: multiplier for negative matches")
    ap.add_argument("--boost", type=float, default=1.0,
                    help="constant-score mode: the constant score")
    ap.add_argument("--rescore-window", type=int, default=50,
                    help="rescore mode: how many primary hits are eligible "
                         "for the phrase boost (ES window_size)")
    ap.add_argument("--rescore-weight", type=float, default=1.0,
                    help="rescore mode: weight of the phrase secondary")
    ap.add_argument("--out", default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    # flag/mode compatibility: refuse combinations whose semantics the
    # chosen mode does not implement, instead of silently ignoring them
    if args.mode in ("phrase", "prefix", "phrase-prefix", "multi-match",
                     "wildcard", "regexp", "boosting", "rescore",
                     "span-near", "span-not", "span-first",
                     "match-bool-prefix"):
        bad = [n for n, v in [("--require-all", args.require_all),
                              ("--min-should-match", args.min_should_match),
                              ("--must-not", args.must_not),
                              ("--must", args.must)] if v]
        if bad:
            ap.error(f"{', '.join(bad)} only apply to wand/taat/"
                     f"constant-score modes, not --mode {args.mode}")
    if args.mode != "phrase":
        if args.score_mode != "bm25" and args.mode in ("prefix",
                                                       "phrase-prefix",
                                                       "multi-match",
                                                       "wildcard", "regexp",
                                                       "boosting",
                                                       "constant-score",
                                                       "rescore",
                                                       "span-near",
                                                       "span-not",
                                                       "span-first"):
            ap.error("--score-mode proximity only applies to phrase "
                     "and wand/taat modes")
        if args.slop and args.mode != "span-near":
            ap.error("--slop only applies to --mode phrase / span-near")
    if args.mode != "multi-match" and (args.fields or args.tie_breaker):
        ap.error("--fields/--tie-breaker only apply to --mode multi-match")
    if args.mode != "boosting" and args.negative is not None:
        ap.error("--negative only applies to --mode boosting")
    if args.mode != "span-near" and args.unordered:
        ap.error("--unordered only applies to --mode span-near")
    if args.mode != "span-not" and args.exclude is not None:
        ap.error("--exclude only applies to --mode span-not")
    if args.mode != "span-first" and args.first_end is not None:
        ap.error("--first-end only applies to --mode span-first")
    if args.mode == "span-first" and args.first_end is None:
        ap.error("--mode span-first needs --first-end")

    from aarhus_spark.operators.search import (search_phrase, search_taat,
                                               search_topk)
    from aarhus_spark.session import get_spark
    from aarhus_spark.sources.io import read_queries

    spark = get_spark("aarhus-search", master=args.master)
    index = args.index.split(",") if "," in args.index else args.index
    qdf = read_queries(spark, args.queries)
    if args.must_not is not None:
        from pyspark.sql import functions as F
        neg = (F.concat_ws(" ", "neg_qtext", F.lit(args.must_not))
               if "neg_qtext" in qdf.columns else F.lit(args.must_not))
        qdf = qdf.withColumn("neg_qtext", neg)
    if args.must is not None:
        from pyspark.sql import functions as F
        must = (F.concat_ws(" ", "must_qtext", F.lit(args.must))
                if "must_qtext" in qdf.columns else F.lit(args.must))
        qdf = qdf.withColumn("must_qtext", must)
    bool_kw = dict(require_all=args.require_all,
                   min_should_match=args.min_should_match,
                   score_mode=args.score_mode)
    if args.mode == "wand":
        res = search_topk(spark, index, qdf, k=args.k, n_ranges=args.ranges,
                          **bool_kw)
    elif args.mode == "phrase":
        res = search_phrase(spark, index, qdf, k=args.k, n_ranges=args.ranges,
                            slop=args.slop, score_mode=args.score_mode)
    elif args.mode == "prefix":
        from pyspark.sql import functions as F
        from aarhus_spark.operators.search import search_prefix
        res = search_prefix(spark, index,
                            qdf.select("query_id",
                                       F.col("qtext").alias("prefix")),
                            k=args.k, n_ranges=args.ranges)
    elif args.mode == "phrase-prefix":
        from aarhus_spark.operators.search import search_phrase_prefix
        res = search_phrase_prefix(spark, index, qdf, k=args.k,
                                   n_ranges=args.ranges)
    elif args.mode == "match-bool-prefix":
        from aarhus_spark.operators.search import search_match_bool_prefix
        res = search_match_bool_prefix(spark, index, qdf, k=args.k,
                                       n_ranges=args.ranges)
    elif args.mode == "wildcard":
        from pyspark.sql import functions as F
        from aarhus_spark.operators.search import search_wildcard
        res = search_wildcard(spark, index,
                              qdf.select("query_id",
                                         F.col("qtext").alias("wpattern")),
                              k=args.k, n_ranges=args.ranges)
    elif args.mode == "regexp":
        from pyspark.sql import functions as F
        from aarhus_spark.operators.search import search_regexp
        res = search_regexp(spark, index,
                            qdf.select("query_id",
                                       F.col("qtext").alias("rpattern")),
                            k=args.k, n_ranges=args.ranges)
    elif args.mode == "boosting":
        from pyspark.sql import functions as F
        from aarhus_spark.operators.eslayer import search_boosting
        bqdf = qdf
        if args.negative is not None:
            neg = (F.concat_ws(" ", "neg_qtext", F.lit(args.negative))
                   if "neg_qtext" in bqdf.columns else F.lit(args.negative))
            bqdf = bqdf.withColumn("neg_qtext", neg)
        elif "neg_qtext" not in bqdf.columns:
            ap.error("--mode boosting needs --negative or a neg_qtext "
                     "column in the queries parquet")
        res = search_boosting(spark, index, bqdf, k=args.k,
                              negative_boost=args.negative_boost)
    elif args.mode == "constant-score":
        from aarhus_spark.operators.eslayer import search_constant_score
        res = search_constant_score(spark, index, qdf, boost=args.boost,
                                    k=args.k, require_all=args.require_all,
                                    min_should_match=args.min_should_match)
    elif args.mode == "rescore":
        from aarhus_spark.operators.eslayer import search_rescore
        res = search_rescore(spark, index, qdf, k=args.k,
                             window_size=args.rescore_window,
                             rescore_weight=args.rescore_weight,
                             n_ranges=args.ranges)
    elif args.mode == "span-near":
        from aarhus_spark.operators.spans import search_span_near
        res = search_span_near(spark, index, qdf, slop=args.slop,
                               in_order=not args.unordered, k=args.k,
                               n_ranges=args.ranges)
    elif args.mode == "span-not":
        from pyspark.sql import functions as F
        from aarhus_spark.operators.spans import search_span_not
        sqdf = qdf
        if "exclude" not in sqdf.columns:
            if args.exclude is None:
                ap.error("--mode span-not needs --exclude or an exclude "
                         "column in the queries parquet")
            sqdf = sqdf.withColumn("exclude", F.lit(args.exclude))
        res = search_span_not(spark, index, sqdf, pre=args.pre,
                              post=args.post, k=args.k,
                              n_ranges=args.ranges)
    elif args.mode == "span-first":
        from aarhus_spark.operators.spans import search_span_first
        res = search_span_first(spark, index, qdf, end=args.first_end,
                                k=args.k, n_ranges=args.ranges)
    elif args.mode == "multi-match":
        from aarhus_spark.operators.multifield import search_multi_match
        fields, boosts = None, {}
        if args.fields:
            fields = []
            for spec in args.fields.split(","):
                name, _, boost = spec.partition("^")
                fields.append(name)
                if boost:
                    boosts[name] = float(boost)
        res = search_multi_match(spark, args.index, qdf, k=args.k,
                                 fields=fields, boosts=boosts,
                                 mode=args.combine,
                                 tie_breaker=args.tie_breaker)
    else:
        res = search_taat(spark, index, qdf, k=args.k, **bool_kw)
    if args.out:
        res.orderBy("query_id", "rank").write.mode("overwrite").parquet(args.out)
    else:
        res.orderBy("query_id", "rank").show(100, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
