"""tabular_train: seafan's own end-to-end job, run as one batch client.

parquet_to_pipe -> where -> left join with default fill -> 11 add_to_pipe
expressions -> z-score / dictionary / one-hot encodes with the FTypes
saved -> pipe_to_parquet, read back -> GLM fit and a few iterations of
the exact-architecture NN -> add_fitted -> ks / decile_table /
assess_r2_df / marginal; finally the saved FTypes are applied to a
holdout, which is scored and written. Between the write and the fit, an
analyst's group_by / top_k over the written features runs the agg
layer.

Checks: DuckDB twins of the written feature aggregates, the agg results
and the encoding parameters, recovery of the generating coefficients by the GLM, a KS
floor, a falling NN loss, monotone decile and marginal tables, and the
holdout's encodings matching the training parameters.
"""

from __future__ import annotations

import json
import math
import os

import duckdb

from perfbench import gen
from perfbench.harness import Bench, close, expect

EXPRESSIONS = [  # (name, seafan expression, DuckDB twin)
    ("ltv_x_dti", "ltv*dti/100", "ltv*dti/100"),
    ("log_bal", "log(balance)", "ln(balance)"),
    ("high_ltv", "ltv > 80", "CAST(ltv > 80 AS DOUBLE)"),
    ("fico_band", "if(fico >= 740, 3, if(fico >= 680, 2, 1))",
     "CASE WHEN fico >= 740 THEN 3 WHEN fico >= 680 THEN 2 ELSE 1 END"),
    ("pay_burden", "rate*balance/1000", "rate*balance/1000"),
    ("orig_year", "year(orig_date)", "year(orig_date)"),
    ("age_m", "dateDiff('20240101', orig_date, 'month')", "(2024*12 + 1) - (year(orig_date)*12 + month(orig_date))"),
    ("fico_dev", "fico - mean(fico)", "fico - AVG(fico) OVER ()"),
    ("rate_cap", "minE(rate, 6.5)", "least(rate, 6.5)"),
    ("unemp_sq", "pow(unemp, 2)", "pow(unemp, 2)"),
    ("hpi_pos", "maxE(hpi, 0) * 100", "greatest(hpi, 0) * 100"),
]
NORMALIZED = ["fico", "ltv", "dti", "unemp", "log_bal"]  # -> <name>_n
KEEP_STATUS = ["active", "closed"]
INPUTS = "+".join([f"{f}_n" for f in NORMALIZED] + ["purpose_oh"])
GLM_SPEC = [f"Input({INPUTS})", "FC(size:1, activation:sigmoid)", "Target(target)"]
NN_SPEC = [f"Input({INPUTS})", "FC(size:4, activation:relu)", "FC(size:1, activation:sigmoid)", "Target(target)"]
NN_ITERS = 3
COEF_TOL = 0.08  # per-sd units; about 5 standard errors at 19k rows
GLM_KS_FLOOR = 25.0

_FILTERED = (
    "SELECT f.*, COALESCE(d.unemp, 0.0) AS unemp, COALESCE(d.hpi, 0.0) AS hpi"
    " FROM read_parquet('{path}') f LEFT JOIN read_parquet('{dim}') d USING (region_id)"
    " WHERE f.status IN ('active', 'closed')"
)


class Tabular:
    nominal_pass_s = 11.0  # warm pass on 4 cores; sets the pass count

    def __init__(self, meta: dict, work_dir: str):
        self.paths = meta["paths"]
        self.rows = meta["rows"]
        self.features_dir = os.path.join(work_dir, "features")
        self.holdout_dir = os.path.join(work_dir, "holdout_scored")
        self.fts_path = os.path.join(work_dir, "ftypes.json")

    def prepare_expected(self) -> None:
        """DuckDB twins of the feature aggregates and encodings."""
        con = duckdb.connect()
        train = _FILTERED.format(path=self.paths["train"], dim=self.paths["dim"])
        con.execute(f"CREATE TABLE tr AS {train}")
        cols = ", ".join(f"{twin} AS {name}" for name, _, twin in EXPRESSIONS)
        sums = ", ".join(f"SUM({name})" for name, _, _ in EXPRESSIONS)
        row = con.execute(f"SELECT COUNT(*), SUM(unemp), {sums} FROM (SELECT unemp, {cols} FROM tr)").fetchone()
        self.n_train = row[0]
        self.want_sums = {"unemp": row[1], **{n: v for (n, _, _), v in zip(EXPRESSIONS, row[2:])}}
        self.want_norm = {}
        for f in NORMALIZED:
            col = "ln(balance)" if f == "log_bal" else f
            self.want_norm[f] = con.execute(f"SELECT AVG({col}), STDDEV_SAMP({col}) FROM tr").fetchone()
        self.want_levels = sorted(r[0] for r in con.execute("SELECT DISTINCT purpose FROM tr").fetchall())
        self.want_top_states = con.execute(
            "SELECT state, COUNT(*) AS n FROM tr GROUP BY state ORDER BY n DESC, state ASC LIMIT 5"
        ).fetchall()
        self.want_by_purpose = {
            r[0]: r[1:]
            for r in con.execute("SELECT purpose, COUNT(*), SUM(target), SUM(ltv*dti/100) FROM tr GROUP BY purpose").fetchall()
        }
        hold = _FILTERED.format(path=self.paths["holdout"], dim=self.paths["dim"])
        self.n_hold, hold_fico = con.execute(f"SELECT COUNT(*), AVG(fico) FROM ({hold})").fetchone()
        loc, scale = self.want_norm["fico"]
        self.want_hold_fico_n = (hold_fico - loc) / scale
        con.close()

    def dedup_pair_counts(self, spark) -> tuple[int, int]:
        return 0, 0  # the dedup layer is bypassed here

    # ------------------------------------------------------------ pass ----
    # One operation per public call; every forcing write or collect is an
    # operation of its own (the sink).
    def _prep(self, b: Bench, path: str, exprs=EXPRESSIONS):
        """read -> where -> default-fill join -> expressions."""
        from seafan_spark.exprlang import add_to_pipe
        from seafan_spark.sources import parquet_to_pipe

        pipe = b.call("sources", parquet_to_pipe, b.spark, path)
        dim = b.call("sources", parquet_to_pipe, b.spark, self.paths["dim"])
        pipe = b.call("pipeline", pipe.where, "status", KEEP_STATUS)
        pipe = b.call("pipeline", pipe.join, dim, "region_id", how="left")
        for name, expr, _ in exprs:
            pipe = b.call("exprlang", add_to_pipe, pipe, expr, name)
        return pipe

    def _encode(self, b: Bench, pipe, fts=None):
        """z-score, dictionary and one-hot encodes: fitted when ``fts`` is
        None, else applied from the saved FTypes."""
        from pyspark.sql import functions as F

        from seafan_spark import encode

        def fp(name):
            return fts.get(name).fp if fts is not None else None

        for f in NORMALIZED:
            pipe = b.call("encode", encode.append_cts, pipe, f"{f}_n", F.col(f), normalize=True, fp=fp(f"{f}_n"))
        pipe = b.call("encode", encode.append_cat, pipe, "purpose", fp=fp("purpose"))
        return b.call("encode", encode.make_one_hot, pipe, "purpose", "purpose_oh")

    def run_pass(self, b: Bench) -> None:
        from pyspark.sql import functions as F

        from seafan_spark import agg, diags, model
        from seafan_spark.ftypes import FTypes
        from seafan_spark.sources import parquet_to_pipe, pipe_to_parquet

        pipe = self._encode(b, self._prep(b, self.paths["train"]))
        b.call("encode", pipe.fts.save, self.fts_path)
        b.force(pipe.df, lambda: pipe_to_parquet(pipe, self.features_dir), lambda _: self._check_features())
        fts = b.call("encode", FTypes.load, self.fts_path)
        feats = b.call("sources", parquet_to_pipe, b.spark, self.features_dir, fts=fts)

        # an analyst's look at the written features
        d = b.call("agg", agg.group_by, feats, ["purpose"],
                   {"n": F.count(F.lit(1)), "defaults": F.sum("target"), "ltv_x_dti": F.sum("ltv_x_dti")})
        b.force(d, d.collect, self._check_group_by)
        d = b.call("agg", agg.top_k, feats, "state", 5)
        b.force(d, d.collect, lambda rows: expect(
            [tuple(r) for r in rows] == [tuple(w) for w in self.want_top_states], f"top_k states {rows}"))

        glm = b.call("model", model.fit, feats, model.parse_modspec(GLM_SPEC),
                     check=lambda fr: self._check_glm(fr, feats))
        nn = b.call("model", model.fit, feats, model.parse_modspec(NN_SPEC), cost="ce", max_iter=NN_ITERS,
                    check=lambda fr: expect(
                        len(fr.model.loss_history) == NN_ITERS
                        and fr.model.loss_history[-1] < fr.model.loss_history[0],
                        f"NN loss not falling: {fr.model.loss_history}"))
        b.model_iterations += glm.model.summary.totalIterations + len(nn.model.loss_history)

        scored = b.call("model", model.add_fitted, glm, feats, "glm_fit")
        b.call("diags", diags.ks, scored, "glm_fit", "target",
               check=lambda v: expect(GLM_KS_FLOOR <= v <= 100.0, f"ks {v} below {GLM_KS_FLOOR}"))
        d = b.call("diags", diags.decile_table, scored, "glm_fit", "target", tiebreak=["loan_id"])
        b.force(d, d.collect, self._check_deciles)
        d = b.call("diags", diags.assess_r2_df, scored, "glm_fit", "target", 0.5)
        b.force(d, d.collect, lambda rows: expect(
            rows[0]["n"] == self.n_train and 0.0 <= rows[0]["precision"] <= 1.0
            and 0.0 <= rows[0]["recall"] <= 1.0 and math.isfinite(rows[0]["r2"]), f"assess {rows}"))
        d = b.call("diags", diags.marginal, glm, feats, "ltv_n")
        b.force(d, d.collect, self._check_marginal)

        # holdout: the model's inputs prepared with the saved FTypes,
        # scored and written
        saved = b.call("encode", FTypes.load, self.fts_path)
        hold = self._prep(b, self.paths["holdout"], [e for e in EXPRESSIONS if e[0] == "log_bal"])
        hold = self._encode(b, hold, saved)
        hold = b.call("model", model.add_fitted, glm, hold, "glm_fit")
        b.force(hold.df, lambda: pipe_to_parquet(hold, self.holdout_dir), lambda _: self._check_holdout())

    # ---------------------------------------------------------- checks ----
    def _check_features(self) -> None:
        con = duckdb.connect()
        sums = ", ".join(f"SUM({n})" for n in self.want_sums)
        norms = ", ".join(f"AVG({f}_n)" for f in NORMALIZED)
        row = con.execute(
            f"SELECT COUNT(*), {sums}, {norms} FROM read_parquet('{self.features_dir}/*.parquet')"
        ).fetchone()
        con.close()
        expect(row[0] == self.n_train, f"features rows {row[0]} != {self.n_train}")
        for (name, want), got in zip(self.want_sums.items(), row[1:]):
            expect(close(got, want), f"feature {name}: sum {got} != {want}")
        for f, avg in zip(NORMALIZED, row[1 + len(self.want_sums):]):
            expect(abs(avg) < 1e-9, f"{f}_n mean {avg} != 0")
        with open(self.fts_path, encoding="utf-8") as fh:
            saved = {d["name"]: d for d in json.load(fh)}
        for f in NORMALIZED:
            fp = saved[f"{f}_n"]["fp"]
            loc, scale = self.want_norm[f]
            expect(close(fp["location"], loc) and close(fp["scale"], scale), f"{f}_n FParam {fp}")
        levels = [v for v, _ in sorted(saved["purpose"]["fp"]["levels"], key=lambda kv: kv[1])]
        expect(levels == self.want_levels, f"purpose levels {levels}")

    def _check_group_by(self, rows) -> None:
        got = {r["purpose"]: (r["n"], r["defaults"], r["ltv_x_dti"]) for r in rows}
        expect(got.keys() == self.want_by_purpose.keys(), "group_by purposes")
        for k, (n, dflt, s) in got.items():
            wn, wd, ws = self.want_by_purpose[k]
            expect(n == wn and close(dflt, wd) and close(s, ws), f"group_by {k}: {(n, dflt, s)}")

    def _check_deciles(self, rows) -> None:
        expect(sum(r["n"] for r in rows) == self.n_train and len(rows) == 10, "decile counts")
        fits = [r["mean_fit"] for r in rows]
        expect(all(a <= b for a, b in zip(fits, fits[1:])), "decile mean_fit not monotone")

    def _check_glm(self, fr, feats) -> None:
        coefs = list(fr.model.coefficients.toArray())
        for i, f in enumerate(NORMALIZED):
            want = gen.TAB_COEF[f] * feats.fts.get(f"{f}_n").fp.scale
            expect(abs(coefs[i] - want) <= COEF_TOL, f"GLM coefficient {f}_n = {coefs[i]:.4f}, generated {want:.4f}")

    def _check_marginal(self, rows) -> None:
        by_seg: dict[int, list] = {}
        for r in rows:
            by_seg.setdefault(r["fit_seg"], []).append((r["x_value"], r["mean_fit"]))
        expect(len(rows) == 16 and len(by_seg) == 4, f"marginal shape {len(rows)} rows")
        for seg, pts in by_seg.items():
            fits = [m for _, m in sorted(pts)]
            expect(all(a < b for a, b in zip(fits, fits[1:])), f"marginal seg {seg} not increasing in ltv")

    def _check_holdout(self) -> None:
        con = duckdb.connect()
        n, lo, hi, fico_n = con.execute(
            f"SELECT COUNT(*), MIN(glm_fit), MAX(glm_fit), AVG(fico_n) FROM read_parquet('{self.holdout_dir}/*.parquet')"
        ).fetchone()
        con.close()
        expect(n == self.n_hold, f"holdout rows {n} != {self.n_hold}")
        expect(0.0 < lo and hi < 1.0, f"holdout scores outside (0,1): {lo}, {hi}")
        expect(close(fico_n, self.want_hold_fico_n, rel=1e-6), f"holdout fico_n mean {fico_n} != {self.want_hold_fico_n}")
