"""Round-9 analytics verbs on the DataFlow API: time-series
continuous aggregates, robust stats, retrieval, linkage, JSON
shredding, and warehouse health checks — same thin-delegate pattern
as ops_scale.py (the operator modules stay canonical; verbs add the
journaled, dataset-in/dataset-out camelCase surface the reference's
users drive, betl/dataflow/DataFlowClass.py:4-46)."""

from __future__ import annotations

from pyspark.sql import DataFrame


class AnalyticsOps:
    def resampleGapfill(
        self,
        dataset: str,
        keyCol: str,
        tsMicrosCol: str,
        valueCol: str,
        bucketMicros: int = 86_400_000_000,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Gap-filled per-key resample with forward-filled means
        (operators/timeseries.py:resample_gapfill)."""
        from betl_spark.operators import timeseries

        with self.journal.step("resampleGapfill", desc or f"resample {dataset}"):
            out = timeseries.resample_gapfill(
                self._get(dataset), keyCol, tsMicrosCol, valueCol, bucketMicros
            )
            self.data[targetDataset or f"{dataset}_resampled"] = out
        return out

    def rollingZscore(
        self,
        dataset: str,
        partCol: str,
        tsMicrosCol: str,
        tiebreakCol: str,
        valueCol: str,
        windowRows: int = 100,
        minRows: int = 20,
        zThresh: float = 3.0,
        nBands: int | None = None,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Trailing-window anomaly scores
        (operators/timeseries.py:rolling_zscore). ``nBands`` opts into
        the banded prefix-sum strategy for low-cardinality keys."""
        from betl_spark.operators import timeseries

        with self.journal.step("rollingZscore", desc or f"zscore {dataset}"):
            out = timeseries.rolling_zscore(
                self._get(dataset), partCol, tsMicrosCol, tiebreakCol,
                valueCol, window_rows=windowRows, min_rows=minRows,
                z_thresh=zThresh, n_bands=nBands,
            )
            self.data[targetDataset or f"{dataset}_zscores"] = out
        return out

    def timeWeightedAvg(
        self,
        dataset: str,
        keyCol: str,
        tsMicrosCol: str,
        valueCol: str,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Per-key TWAP (operators/timeseries.py:time_weighted_avg)."""
        from betl_spark.operators import timeseries

        with self.journal.step("timeWeightedAvg", desc or f"twap {dataset}"):
            out = timeseries.time_weighted_avg(
                self._get(dataset), keyCol, tsMicrosCol, valueCol
            )
            self.data[targetDataset or f"{dataset}_twap"] = out
        return out

    def rollingActives(
        self,
        dataset: str,
        tsMicrosCol: str,
        entityCol: str,
        windowBuckets: int = 7,
        bucketMicros: int = 86_400_000_000,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Trailing-window distinct entities per bucket
        (operators/timeseries.py:rolling_distinct_count)."""
        from betl_spark.operators import timeseries

        with self.journal.step("rollingActives", desc or f"actives {dataset}"):
            out = timeseries.rolling_distinct_count(
                self._get(dataset), tsMicrosCol, entityCol,
                window_buckets=windowBuckets, bucket_micros=bucketMicros,
            )
            self.data[targetDataset or f"{dataset}_actives"] = out
        return out

    def searchBM25(
        self,
        dataset: str,
        idCol: str,
        textCol: str,
        terms: list[str],
        topN: int = 20,
        keepCols: list[str] | None = None,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """BM25-ranked retrieval (operators/corpus.py:bm25_topk)."""
        from betl_spark.operators import corpus

        with self.journal.step("searchBM25", desc or f"bm25 {dataset}"):
            out = corpus.bm25_topk(
                self._get(dataset), idCol, textCol, terms,
                top_n=topN, keep_cols=keepCols,
            )
            self.data[targetDataset or f"{dataset}_bm25"] = out
        return out

    def shredJson(
        self,
        dataset: str,
        jsonCol: str,
        fields: dict[str, str],
        keepCols: list[str] | None = None,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Typed JSON field extraction with corrupt-record flags
        (operators/semistructured.py:shred_json)."""
        from betl_spark.operators import semistructured

        with self.journal.step("shredJson", desc or f"shred {dataset}"):
            out = semistructured.shred_json(
                self._get(dataset), jsonCol, fields, keep_cols=keepCols
            )
            self.data[targetDataset or f"{dataset}_shredded"] = out
        return out

    def fuzzyMatchNames(
        self,
        dataset: str,
        idCol: str,
        nameCol: str,
        maxDist: int = 3,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Blocked fuzzy name linkage: canonicalize → first-token block
        → levenshtein (operators/linkage.py)."""
        from betl_spark.operators import linkage

        with self.journal.step("fuzzyMatchNames", desc or f"fuzzy {dataset}"):
            names = linkage.canonicalize_names(
                self._get(dataset), idCol, nameCol
            )
            out = linkage.fuzzy_join_blocked(
                names, linkage.first_token_block, max_dist=maxDist
            )
            self.data[targetDataset or f"{dataset}_name_pairs"] = out
        return out

    def resolveEntities(
        self,
        dataset: str,
        masterDataset: str,
        idCol: str,
        nameCol: str,
        masterIdCol: str = "master_id",
        masterNameCol: str = "name",
        maxDist: int = 3,
        keepCols: tuple[str, ...] = (),
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Record-vs-catalog fuzzy resolution: multi-pass blocking →
        broadcast candidate join → per-record best master
        (operators/linkage.py:link_records). The catalog side must be
        the bounded one — it is always broadcast."""
        from betl_spark.operators import linkage

        with self.journal.step(
            "resolveEntities", desc or f"resolve {dataset}"
        ):
            out = linkage.link_records(
                self._get(dataset),
                self._get(masterDataset),
                record_id=idCol,
                record_name=nameCol,
                master_id=masterIdCol,
                master_name=masterNameCol,
                threshold=maxDist,
                keep_cols=tuple(keepCols),
            )
            self.data[targetDataset or f"{dataset}_resolved"] = out
        return out

    def surviveGoldenRecords(
        self,
        dataset: str,
        groupCol: str,
        rules: dict[str, str],
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Golden-record assembly per resolved group: min/max/sum/count
        field rules in one hash agg, 'mode' fields by deterministic
        plurality (operators/linkage.py:survivorship)."""
        from betl_spark.operators import linkage

        with self.journal.step(
            "surviveGoldenRecords", desc or f"survive {dataset}"
        ):
            out = linkage.survivorship(self._get(dataset), groupCol, rules)
            self.data[targetDataset or f"{dataset}_golden"] = out
        return out

    def integrityAudit(
        self,
        specs: list[tuple[str, str, list[str], str, list[str]]],
        targetDataset: str = "integrity_audit",
        desc: str = "",
    ) -> DataFrame:
        """FK orphan audit across loaded datasets: specs are
        (name, childDataset, childKeys, parentDataset, parentKeys)
        over THIS dataflow's datasets
        (operators/profile.py:referential_integrity)."""
        from betl_spark.operators import profile

        with self.journal.step("integrityAudit", desc or "fk audit"):
            resolved = [
                (name, self._get(c), ck, self._get(p), pk)
                for name, c, ck, p, pk in specs
            ]
            out = profile.referential_integrity(resolved)
            self.data[targetDataset] = out
        return out

    # ---- round-10 verbs ----

    def mannWhitney(
        self,
        dataset: str,
        groupCols: list[str],
        armACol,
        valueCol: str,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Rank-sum U test + rank AUC between two arms
        (operators/stats.py:mann_whitney)."""
        from betl_spark.operators import stats

        with self.journal.step("mannWhitney", desc or f"U test {dataset}"):
            out = stats.mann_whitney(
                self._get(dataset), groupCols, armACol, valueCol
            )
            self.data[targetDataset or f"{dataset}_mannwhitney"] = out
        return out

    def crosstabAssoc(
        self,
        dataset: str,
        xCol: str,
        yCol: str,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Chi-square / Cramér's V / mutual information of two
        categorical columns (operators/stats.py:crosstab_assoc)."""
        from betl_spark.operators import stats

        with self.journal.step("crosstabAssoc", desc or f"{xCol}x{yCol}"):
            out = stats.crosstab_assoc(self._get(dataset), xCol, yCol)
            self.data[targetDataset or f"{dataset}_assoc"] = out
        return out

    def benfordDigits(
        self,
        dataset: str,
        amountCol,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """First-significant-digit census vs Benford expectation
        (operators/stats.py:benford_digits)."""
        from betl_spark.operators import stats

        with self.journal.step("benfordDigits", desc or f"benford {dataset}"):
            out = stats.benford_digits(self._get(dataset), amountCol)
            self.data[targetDataset or f"{dataset}_benford"] = out
        return out

    def decileLift(
        self,
        dataset: str,
        scoreCol: str,
        labelCol,
        tiebreakCol: str,
        nBuckets: int = 10,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Score-decile lift table (operators/stats.py:decile_lift)."""
        from betl_spark.operators import stats

        with self.journal.step("decileLift", desc or f"lift {dataset}"):
            out = stats.decile_lift(
                self._get(dataset), scoreCol, labelCol, tiebreakCol,
                n_buckets=nBuckets,
            )
            self.data[targetDataset or f"{dataset}_lift"] = out
        return out

    def ewma(
        self,
        dataset: str,
        partCol: str,
        tsMicrosCol: str,
        tiebreakCol: str,
        valueCol: str,
        alpha: float = 0.3,
        k: int = 8,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Bounded-window EWMA smoothing
        (operators/timeseries.py:ewma_bounded)."""
        from betl_spark.operators import timeseries

        with self.journal.step("ewma", desc or f"ewma {dataset}"):
            out = timeseries.ewma_bounded(
                self._get(dataset), partCol, tsMicrosCol, tiebreakCol,
                valueCol, alpha=alpha, k=k,
            )
            self.data[targetDataset or f"{dataset}_ewma"] = out
        return out

    def cusumChangepoint(
        self,
        dataset: str,
        partCol: str,
        tsMicrosCol: str,
        tiebreakCol: str,
        valueCol: str,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Per-key CUSUM change-point locator
        (operators/timeseries.py:cusum_changepoint)."""
        from betl_spark.operators import timeseries

        with self.journal.step("cusumChangepoint", desc or f"cusum {dataset}"):
            out = timeseries.cusum_changepoint(
                self._get(dataset), partCol, tsMicrosCol, tiebreakCol,
                valueCol,
            )
            self.data[targetDataset or f"{dataset}_cusum"] = out
        return out

    def autocorr(
        self,
        dataset: str,
        partCol: str,
        tsMicrosCol: str,
        tiebreakCol: str,
        valueCol: str,
        lag: int = 1,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Per-key lag autocorrelation
        (operators/timeseries.py:autocorr_lag)."""
        from betl_spark.operators import timeseries

        with self.journal.step("autocorr", desc or f"autocorr {dataset}"):
            out = timeseries.autocorr_lag(
                self._get(dataset), partCol, tsMicrosCol, tiebreakCol,
                valueCol, lag=lag,
            )
            self.data[targetDataset or f"{dataset}_autocorr"] = out
        return out

    def phraseSearch(
        self,
        dataset: str,
        idCol: str,
        textCol: str,
        phrase: list[str],
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Exact positional phrase search
        (operators/corpus.py:phrase_search)."""
        from betl_spark.operators import corpus

        with self.journal.step("phraseSearch", desc or " ".join(phrase)):
            out = corpus.phrase_search(
                self._get(dataset), idCol, textCol, phrase
            )
            self.data[targetDataset or f"{dataset}_phrase"] = out
        return out

    def ngramNovelty(
        self,
        dataset: str,
        idCol: str,
        textCol: str,
        n: int = 3,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Per-doc n-gram novelty (operators/corpus.py:ngram_novelty)."""
        from betl_spark.operators import corpus

        with self.journal.step("ngramNovelty", desc or f"novelty {dataset}"):
            out = corpus.ngram_novelty(self._get(dataset), idCol, textCol, n)
            self.data[targetDataset or f"{dataset}_novelty"] = out
        return out

    def readabilityScores(
        self,
        dataset: str,
        idCol: str,
        textCol: str,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Flesch-style readability (operators/text.py:readability)."""
        from betl_spark.operators import text

        with self.journal.step("readabilityScores", desc or dataset):
            out = text.readability(self._get(dataset), idCol, textCol)
            self.data[targetDataset or f"{dataset}_readability"] = out
        return out

    def columnDrift(
        self,
        datasetA: str,
        datasetB: str,
        columns: list[str],
        targetDataset: str = "column_drift",
        desc: str = "",
    ) -> DataFrame:
        """Column-level NULL-rate/cardinality drift between two
        datasets (operators/profile.py:column_drift_audit)."""
        from betl_spark.operators import profile

        with self.journal.step("columnDrift", desc or f"{datasetA} vs {datasetB}"):
            out = profile.column_drift_audit(
                self._get(datasetA), self._get(datasetB), columns
            )
            self.data[targetDataset] = out
        return out

    def kfoldAssign(
        self,
        dataset: str,
        keyCol: str,
        k: int = 5,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Deterministic k-fold assignment
        (operators/sampling.py:kfold_assign)."""
        from betl_spark.operators import sampling

        with self.journal.step("kfoldAssign", desc or f"{k}-fold {dataset}"):
            out = sampling.kfold_assign(self._get(dataset), keyCol, k)
            self.data[targetDataset or f"{dataset}_folds"] = out
        return out

    def temporalSplit(
        self,
        dataset: str,
        tsMicrosCol: str,
        trainPct: int = 70,
        valPct: int = 15,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Chronological train/val/test split
        (operators/sampling.py:temporal_split)."""
        from betl_spark.operators import sampling

        with self.journal.step("temporalSplit", desc or dataset):
            out = sampling.temporal_split(
                self._get(dataset), tsMicrosCol, trainPct, valPct
            )
            self.data[targetDataset or f"{dataset}_split"] = out
        return out

    def spearman(
        self,
        dataset: str,
        groupCols: list[str],
        xCol,
        yCol,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Tie-aware grouped Spearman rho
        (operators/stats.py:grouped_spearman)."""
        from betl_spark.operators import stats

        with self.journal.step("spearman", desc or f"spearman {dataset}"):
            out = stats.grouped_spearman(
                self._get(dataset), groupCols, xCol, yCol
            )
            self.data[targetDataset or f"{dataset}_spearman"] = out
        return out

    def categoryEntropy(
        self,
        dataset: str,
        groupCols: list[str],
        catCol: str,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Per-group categorical Shannon entropy
        (operators/stats.py:grouped_entropy)."""
        from betl_spark.operators import stats

        with self.journal.step("categoryEntropy", desc or f"H {dataset}"):
            out = stats.grouped_entropy(self._get(dataset), groupCols, catCol)
            self.data[targetDataset or f"{dataset}_entropy"] = out
        return out

    def funnelLatency(
        self,
        dataset: str,
        userCol: str,
        tsMicrosCol: str,
        eventCol: str,
        fromEvent: str,
        toEvent: str,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Funnel conversion-latency summary
        (operators/funnel.py:funnel_latency)."""
        from betl_spark.operators import funnel

        with self.journal.step(
            "funnelLatency", desc or f"{fromEvent}->{toEvent}"
        ):
            out = funnel.funnel_latency(
                self._get(dataset), userCol, tsMicrosCol, eventCol,
                fromEvent, toEvent,
            )
            self.data[targetDataset or f"{dataset}_latency"] = out
        return out
