"""Declared StructType schemas.

The reference declares its star schema twice (Django external models +
migrations — reference ``Website/market/dunnhumby/models.py:5-139``); here the
single source of truth is a StructType per table. Fixed/declared schemas (no
inference) mirror the reference's import-time validation
(``management/commands/import_transactions.py:73-121``) and, at scale, avoid
a full-file schema-inference pass on every read.

Spark type choices (SURVEY.md §1.4): money stays DecimalType through
aggregation for order-independent exact sums (cast to double only for
stats/ML); JSON list/dict columns become ArrayType / MapType natively.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Dunnhumby-shaped star schema (reference models.py:5-139) ---------------

TRANSACTIONS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        # FK columns carry the SAME type as their dimension's key (LongType,
        # matching HOUSEHOLD.household_key / PRODUCT.product_id): an
        # int-vs-bigint join key needs an implicit cast, which disables
        # bucketed-scan co-location on one side and silently reintroduces
        # the Exchange the bucketing layer exists to eliminate
        T.StructField("household_key", T.LongType(), False),
        T.StructField("basket_id", T.LongType(), False),
        T.StructField("day", T.IntegerType(), False),  # integer day 1..711, NOT a date
        T.StructField("product_id", T.LongType(), False),
        T.StructField("quantity", T.IntegerType(), True),
        T.StructField("sales_value", T.DecimalType(10, 2), False),
        T.StructField("store_id", T.IntegerType(), True),
        T.StructField("retail_disc", T.DecimalType(10, 2), False),
        T.StructField("coupon_disc", T.DecimalType(10, 2), False),
        T.StructField("coupon_match_disc", T.DecimalType(10, 2), False),
        T.StructField("week_no", T.IntegerType(), True),
        T.StructField("trans_time", T.DecimalType(10, 2), False),
    ]
)

PRODUCT = T.StructType(
    [
        T.StructField("product_id", T.LongType(), False),
        T.StructField("manufacturer", T.IntegerType(), False),
        T.StructField("department", T.StringType(), True),
        T.StructField("brand", T.StringType(), False),
        T.StructField("commodity_desc", T.StringType(), True),
        T.StructField("sub_commodity_desc", T.StringType(), True),
        T.StructField("curr_size_of_product", T.StringType(), True),
    ]
)

HOUSEHOLD = T.StructType(
    [T.StructField("household_key", T.LongType(), False)]
    + [
        T.StructField(name, T.StringType(), True)
        for name in (
            "age_desc",
            "marital_status_code",
            "income_desc",
            "homeowner_desc",
            "hh_comp_desc",
            "household_size_desc",
            "kid_category_desc",
        )
    ]
)

CAMPAIGN = T.StructType(
    [
        T.StructField("campaign", T.IntegerType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("start_day", T.IntegerType(), False),
        T.StructField("end_day", T.IntegerType(), False),
    ]
)

COUPON = T.StructType(
    [
        T.StructField("coupon_upc", T.StringType(), False),
        T.StructField("product_id", T.LongType(), False),
        T.StructField("campaign", T.IntegerType(), False),
    ]
)

COUPON_REDEMPTION = T.StructType(
    [
        T.StructField("household_key", T.LongType(), False),
        T.StructField("day", T.IntegerType(), False),
        T.StructField("coupon_upc", T.StringType(), False),
        T.StructField("campaign", T.IntegerType(), False),
    ]
)

CAMPAIGN_MEMBER = T.StructType(
    [
        T.StructField("household_key", T.LongType(), False),
        T.StructField("campaign", T.IntegerType(), False),
    ]
)

CAUSAL_DATA = T.StructType(
    [
        T.StructField("product_id", T.LongType(), False),
        T.StructField("store_id", T.IntegerType(), False),
        T.StructField("week_no", T.IntegerType(), False),
        T.StructField("display", T.IntegerType(), False),
        T.StructField("mailer", T.StringType(), True),
    ]
)

DUNNHUMBY_SCHEMAS: dict[str, T.StructType] = {
    "transactions": TRANSACTIONS,
    "product": PRODUCT,
    "household": HOUSEHOLD,
    "campaign": CAMPAIGN,
    "coupon": COUPON,
    "coupon_redemption": COUPON_REDEMPTION,
    "campaign_member": CAMPAIGN_MEMBER,
    "causal_data": CAUSAL_DATA,
}
