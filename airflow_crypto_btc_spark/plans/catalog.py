"""Combined query catalog: core reference operators + scale extensions."""

from __future__ import annotations

from airflow_crypto_btc_spark.plans.registry import REGISTRY, QuerySpec
from airflow_crypto_btc_spark.plans.registry_analytics import (
    ANALYTICS_REGISTRY,
)
from airflow_crypto_btc_spark.plans.registry_curation import CURATION_REGISTRY
from airflow_crypto_btc_spark.plans.registry_ext import EXT_REGISTRY
from airflow_crypto_btc_spark.plans.registry_ext2 import EXT2_REGISTRY
from airflow_crypto_btc_spark.plans.registry_incremental import (
    INCREMENTAL_REGISTRY,
)
from airflow_crypto_btc_spark.plans.registry_ml import ML_REGISTRY
from airflow_crypto_btc_spark.plans.registry_more import MORE_REGISTRY
from airflow_crypto_btc_spark.plans.registry_probe import PROBE_REGISTRY
from airflow_crypto_btc_spark.plans.registry_sql import SQL_REGISTRY
from airflow_crypto_btc_spark.plans.registry_stream import STREAM_REGISTRY
from airflow_crypto_btc_spark.plans.registry_ta import TA_REGISTRY
from airflow_crypto_btc_spark.plans.registry_takedown import (
    TAKEDOWN_REGISTRY,
)
from airflow_crypto_btc_spark.plans.registry_tpch2 import TPCH2_REGISTRY
from airflow_crypto_btc_spark.plans.registry_tpch3 import TPCH3_REGISTRY
from airflow_crypto_btc_spark.plans.registry_unigram import UNIGRAM_REGISTRY

#: Registration order: the reference-parity core (``REGISTRY``) comes
#: first, then each extension module in the order it was added.
ALL_QUERIES: dict[str, QuerySpec] = {
    **REGISTRY,
    **EXT_REGISTRY,
    **EXT2_REGISTRY,
    **MORE_REGISTRY,
    **ML_REGISTRY,
    **TPCH2_REGISTRY,
    **TPCH3_REGISTRY,
    **CURATION_REGISTRY,
    **STREAM_REGISTRY,
    **TA_REGISTRY,
    **ANALYTICS_REGISTRY,
    **SQL_REGISTRY,
    **UNIGRAM_REGISTRY,
    **INCREMENTAL_REGISTRY,
    **TAKEDOWN_REGISTRY,
    **PROBE_REGISTRY,
}
