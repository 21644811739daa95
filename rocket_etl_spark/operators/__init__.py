from rocket_etl_spark.operators.lww import (
    lww_dedupe,
    lww_dedupe_salted,
)

__all__ = ["lww_dedupe", "lww_dedupe_salted"]
