"""Real TPC-DS query texts from the reference's own corpus.

The reference ships one complete TPC-DS query as a regress test —
``src/test/regress/sql/tpcds_q04.sql:5472-5591`` (the 3-channel
year-over-year CTE query over catalog_sales/store_sales/web_sales/
customer/date_dim, schema at lines 24-360) — plus two TPC-DS CTE
fragments in ``src/test/regress/sql/cte_prune.sql`` (the q23
frequent_ss_items CTE at :217-229 and the q95 ws_wh self-join CTE at
:231-245), and publishes TPC-DS 1TB numbers for the full suite
(``contrib/pax_storage/doc/performance.md:65-185``). This module runs
those *actual query texts* through the pgcompat frontend, plus the
published TPC-DS q47 and q67 texts (tpc.org spec queries; the repo
previously had only q47/q67 *shapes* over the fixture schema in
operators/reports.py).

The reference's tpcds_q04.sql is an EXPLAIN-only plan test backed by
injected pg_statistic rows and no data; here each query executes over a
deterministic CTE-prelude schema (the regress.py strategy) shared
verbatim by Spark (translated) and the DuckDB oracle (untranslated).

Round 9 extends the prelude with the remaining dimensions/facts the
22-query expansion touches (customer_address, demographics, promotion,
inventory, warehouse, the three returns tables, time_dim, web_site,
web_page) plus new derived columns on the original tables — pure row
functions of the series index like everything else, never altering an
existing column's formula so earlier rounds' queries are unaffected.

Fixture-design constraints, so the strict dtype-sensitive driver hash
is stable across engines:

- Every monetary column is an integer-valued DOUBLE: sums are exact in
  IEEE binary64 regardless of accumulation order, ``/2`` yields exact
  halves, and ratio/avg outputs are single IEEE divisions of exact
  operands — bit-identical on both engines with no rounding adaptation.
- ``store_sales`` uses mixed-radix indexing (item = i mod 20, store =
  floor(i/20) mod 4, date = floor(i/80) mod 25) so every (item, store)
  pair covers all 25 trading dates and every (item, date) pair has >4
  rows — q47's rank windows get deep month sequences and q23's
  HAVING count(*) > 4 filter is non-degenerate.
- Trading dates stride 45 days across 2000-2002, giving q4 its two
  consecutive years and q47 its Dec-2000 boundary month.

Adaptations, noted per query: year constants shifted to the fixture's
2000-2002 range, ``AS`` aliases added where the harness matches columns
by name, and ORDER BY extended with unique-key tiebreakers wherever a
LIMIT would otherwise truncate a float-keyed tie nondeterministically.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from cloudberry_spark import scratch
from cloudberry_spark.operators.rewrites import rewrite_selfjoin_distinct_in
from cloudberry_spark.registry import register
from cloudberry_spark.sql.pgcompat import translate_pg_sql
from cloudberry_spark.sql.regress import _with_prelude
from cloudberry_spark.sql.scale_fixture import prelude_views
from cloudberry_spark.sql.sqltext import match_paren

#: Deterministic TPC-DS schema, shared verbatim by both engines.
#: Column subsets follow the reference DDL (tpcds_q04.sql:24-360,
#: cte_prune.sql:98-215): only columns any ported query touches are
#: materialized; the generators are pure row functions of the series
#: index, so the same text is reproducible on any engine at any scale.
TPCDS_PRELUDE = """
WITH date_dim AS (
  SELECT CAST(2450000 + i AS INT) AS d_date_sk,
         DATE '2000-01-01' + CAST(i AS INT) AS d_date,
         CAST(EXTRACT(YEAR FROM DATE '2000-01-01' + CAST(i AS INT)) AS INT) AS d_year,
         CAST(EXTRACT(MONTH FROM DATE '2000-01-01' + CAST(i AS INT)) AS INT) AS d_moy,
         CAST(EXTRACT(QUARTER FROM DATE '2000-01-01' + CAST(i AS INT)) AS INT) AS d_qoy,
         CAST(1188 + (EXTRACT(YEAR FROM DATE '2000-01-01' + CAST(i AS INT)) - 2000) * 12
              + EXTRACT(MONTH FROM DATE '2000-01-01' + CAST(i AS INT)) - 1 AS INT) AS d_month_seq,
         CAST(floor(i / 7.0) + 5270 AS INT) AS d_week_seq,
         CASE CAST(i % 7 AS INT) WHEN 0 THEN 'Saturday' WHEN 1 THEN 'Sunday'
              WHEN 2 THEN 'Monday' WHEN 3 THEN 'Tuesday' WHEN 4 THEN 'Wednesday'
              WHEN 5 THEN 'Thursday' ELSE 'Friday' END AS d_day_name,
         CAST(EXTRACT(DAY FROM DATE '2000-01-01' + CAST(i AS INT)) AS INT) AS d_dom,
         CAST((i % 7 + 6) % 7 AS INT) AS d_dow
  FROM generate_series(0, 1095) AS gs(i)
),
customer AS (
  SELECT CAST(i AS INT) AS c_customer_sk,
         'AAAA' || lpad(CAST(i AS STRING), 5, '0') AS c_customer_id,
         'First_' || CAST(i % 7 AS STRING) AS c_first_name,
         'Last_' || CAST(i % 11 AS STRING) AS c_last_name,
         CASE WHEN i % 3 = 0 THEN 'Y' ELSE 'N' END AS c_preferred_cust_flag,
         'Country_' || CAST(i % 5 AS STRING) AS c_birth_country,
         'login_' || CAST(i AS STRING) AS c_login,
         'user' || CAST(i AS STRING) || '@example.com' AS c_email_address,
         CAST(i % 40 + 1 AS INT) AS c_current_addr_sk,
         CAST(i % 12 + 1 AS INT) AS c_birth_month,
         CAST(1950 + i % 40 AS INT) AS c_birth_year,
         CASE i % 3 WHEN 0 THEN 'Mr.' WHEN 1 THEN 'Ms.' ELSE 'Dr.' END AS c_salutation,
         CAST(i % 30 + 1 AS INT) AS c_current_cdemo_sk,
         CAST(i % 10 + 1 AS INT) AS c_current_hdemo_sk,
         CAST(2450000 + (i % 25) * 45 AS INT) AS c_first_sales_date_sk,
         CAST(2450000 + ((i + 3) % 25) * 45 AS INT) AS c_first_shipto_date_sk
  FROM generate_series(1, 49) AS gs(i)
),
item AS (
  SELECT CAST(i AS INT) AS i_item_sk,
         'Category_' || CAST(i % 3 AS STRING) AS i_category,
         'Class_' || CAST(i % 4 AS STRING) AS i_class,
         'Brand_' || CAST(i % 5 AS STRING) AS i_brand,
         'Product name nr ' || CAST(i AS STRING) || ' of many' AS i_product_name,
         'Item description number ' || CAST(i AS STRING) || ' with a long tail' AS i_item_desc,
         'ITEM' || lpad(CAST(i AS STRING), 4, '0') AS i_item_id,
         CAST((i * 13) % 80 + 10 AS DOUBLE) AS i_current_price,
         CAST(i % 6 + 100 AS INT) AS i_manufact_id,
         'Manufact_' || CAST(i % 6 AS STRING) AS i_manufact,
         CAST(i % 7 + 1 AS INT) AS i_manager_id,
         CAST(i % 5 + 5000 AS INT) AS i_brand_id,
         CAST(i % 3 + 1 AS INT) AS i_category_id,
         CAST(i % 4 + 1 AS INT) AS i_class_id,
         CAST((i * 7) % 50 + 5 AS DOUBLE) AS i_wholesale_cost,
         CASE i % 8 WHEN 0 THEN 'maroon' WHEN 1 THEN 'burnished' WHEN 2 THEN 'dim'
              WHEN 3 THEN 'sky' WHEN 4 THEN 'navajo' WHEN 5 THEN 'chocolate'
              WHEN 6 THEN 'slate' ELSE 'forest' END AS i_color,
         CASE i % 4 WHEN 0 THEN 'small' WHEN 1 THEN 'medium'
              WHEN 2 THEN 'large' ELSE 'extra large' END AS i_size,
         CASE i % 3 WHEN 0 THEN 'Oz' WHEN 1 THEN 'Lb' ELSE 'Each' END AS i_units
  FROM generate_series(1, 20) AS gs(i)
),
store AS (
  SELECT CAST(i AS INT) AS s_store_sk,
         'S_' || CAST(i AS STRING) AS s_store_id,
         'Store_' || CAST(i AS STRING) AS s_store_name,
         'Company_' || CAST(i % 2 AS STRING) AS s_company_name,
         CASE i % 4 WHEN 0 THEN 'TN' WHEN 1 THEN 'TN' WHEN 2 THEN 'CA' ELSE 'GA' END AS s_state,
         'County_' || CAST(i % 2 AS STRING) AS s_county,
         lpad(CAST((i * 7) % 90000 + 10000 AS STRING), 5, '0') AS s_zip,
         CASE i % 2 WHEN 0 THEN 'Midway' ELSE 'Fairview' END AS s_city,
         CAST(0 - (i % 2 + 5) AS DOUBLE) AS s_gmt_offset,
         CAST(200 + i * 25 AS INT) AS s_number_employees,
         CAST(CASE i % 2 WHEN 0 THEN 8 ELSE 5 END AS INT) AS s_market_id
  FROM generate_series(1, 4) AS gs(i)
),
store_sales AS (
  SELECT CAST(2450000 + (CAST(floor(i / 80.0) AS INT) % 25) * 45 AS INT) AS ss_sold_date_sk,
         CAST(i % 49 + 1 AS INT) AS ss_customer_sk,
         CAST(i % 20 + 1 AS INT) AS ss_item_sk,
         CAST(CAST(floor(i / 20.0) AS INT) % 4 + 1 AS INT) AS ss_store_sk,
         CAST(i % 9 + 1 AS INT) AS ss_quantity,
         CAST((i * 7) % 90 + 10 AS DOUBLE) AS ss_sales_price,
         CAST((i * 11) % 200 + 100 AS DOUBLE) AS ss_ext_list_price,
         CAST((i * 3) % 80 + 20 AS DOUBLE) AS ss_ext_wholesale_cost,
         CAST((i * 5) % 30 AS DOUBLE) AS ss_ext_discount_amt,
         CAST((i * 13) % 150 + 50 AS DOUBLE) AS ss_ext_sales_price,
         CAST((i * 17) % 120 - 40 AS DOUBLE) AS ss_net_profit,
         CAST(i + 1 AS INT) AS ss_ticket_number,
         CAST((i * 7) % 90 + 15 AS DOUBLE) AS ss_list_price,
         CAST((i * 3) % 25 AS DOUBLE) AS ss_coupon_amt,
         CAST((i * 5) % 20 AS DOUBLE) AS ss_ext_tax,
         CAST(i % 10 + 1 AS INT) AS ss_hdemo_sk,
         CAST(i % 30 + 1 AS INT) AS ss_cdemo_sk,
         CAST(i % 40 + 1 AS INT) AS ss_addr_sk,
         CAST(i % 8 + 1 AS INT) AS ss_promo_sk,
         CAST((i * 37) % 1440 AS INT) AS ss_sold_time_sk,
         CAST((i * 23) % 170 + 30 AS DOUBLE) AS ss_net_paid,
         CAST((i * 3) % 70 + 10 AS DOUBLE) AS ss_wholesale_cost
  FROM generate_series(0, 2999) AS gs(i)
),
catalog_sales AS (
  SELECT CAST(2450000 + (CAST(floor(i / 80.0) AS INT) % 25) * 45 AS INT) AS cs_sold_date_sk,
         CAST((i * 3) % 49 + 1 AS INT) AS cs_bill_customer_sk,
         CAST((i * 17) % 230 + 90 AS DOUBLE) AS cs_ext_list_price,
         CAST((i * 7) % 70 + 25 AS DOUBLE) AS cs_ext_wholesale_cost,
         CAST((i * 11) % 35 AS DOUBLE) AS cs_ext_discount_amt,
         CAST((i * 19) % 140 + 40 AS DOUBLE) AS cs_ext_sales_price,
         CAST((i * 13) % 20 + 1 AS INT) AS cs_item_sk,
         CAST(floor(i / 2.0) AS INT) AS cs_order_number,
         CAST(i % 9 + 1 AS INT) AS cs_quantity,
         CAST((i * 23) % 110 + 20 AS DOUBLE) AS cs_list_price,
         CAST((i * 29) % 85 + 10 AS DOUBLE) AS cs_sales_price,
         CAST((i * 7) % 30 AS DOUBLE) AS cs_coupon_amt,
         CAST(2450000 + (CAST(floor(i / 80.0) AS INT) % 25) * 45
              + (i % 3) * 2 + 3 AS INT) AS cs_ship_date_sk,
         CAST(i % 30 + 1 AS INT) AS cs_bill_cdemo_sk,
         CAST((i * 2) % 10 + 1 AS INT) AS cs_bill_hdemo_sk,
         CASE WHEN i % 4 = 0 THEN CAST(NULL AS INT) ELSE CAST(i % 8 + 1 AS INT) END AS cs_promo_sk,
         CAST((i * 31) % 140 - 30 AS DOUBLE) AS cs_net_profit,
         CAST(i % 5 + 1 AS INT) AS cs_ship_mode_sk,
         CAST((i * 3) % 5 + 1 AS INT) AS cs_warehouse_sk,
         CAST(i % 2 + 1 AS INT) AS cs_call_center_sk,
         CAST((i * 7) % 49 + 1 AS INT) AS cs_ship_customer_sk,
         CAST((i * 41) % 1440 AS INT) AS cs_sold_time_sk,
         CAST((i * 11) % 40 + 1 AS INT) AS cs_ship_addr_sk,
         CAST((i * 13) % 40 + 1 AS INT) AS cs_bill_addr_sk,
         CAST((i * 9) % 45 + 5 AS DOUBLE) AS cs_ext_ship_cost,
         CAST(i % 10 + 1 AS INT) AS cs_catalog_page_sk,
         CAST((i * 21) % 160 + 30 AS DOUBLE) AS cs_net_paid,
         CAST((i * 21) % 160 + 45 AS DOUBLE) AS cs_net_paid_inc_tax,
         CAST((i * 27) % 180 + 50 AS DOUBLE) AS cs_net_paid_inc_ship,
         CAST((i * 11) % 60 + 12 AS DOUBLE) AS cs_wholesale_cost
  FROM generate_series(0, 1999) AS gs(i)
),
web_sales AS (
  SELECT CAST(2450000 + (CAST(floor(i / 80.0) AS INT) % 25) * 45 AS INT) AS ws_sold_date_sk,
         CAST((i * 9) % 49 + 1 AS INT) AS ws_bill_customer_sk,
         CAST(i % 399 AS INT) AS ws_order_number,
         CAST(i % 5 + 1 AS INT) AS ws_warehouse_sk,
         CAST((i * 23) % 210 + 80 AS DOUBLE) AS ws_ext_list_price,
         CAST((i * 13) % 60 + 30 AS DOUBLE) AS ws_ext_wholesale_cost,
         CAST((i * 29) % 25 AS DOUBLE) AS ws_ext_discount_amt,
         CAST((i * 31) % 160 + 45 AS DOUBLE) AS ws_ext_sales_price,
         CAST((i * 7) % 20 + 1 AS INT) AS ws_item_sk,
         CAST(2450000 + (CAST(floor(i / 80.0) AS INT) % 25) * 45
              + i % 10 AS INT) AS ws_ship_date_sk,
         CAST((i * 3) % 40 + 1 AS INT) AS ws_ship_addr_sk,
         CAST(i % 3 + 1 AS INT) AS ws_web_site_sk,
         CAST((i * 7) % 50 + 5 AS DOUBLE) AS ws_ext_ship_cost,
         CAST((i * 11) % 100 - 20 AS DOUBLE) AS ws_net_profit,
         CAST(i % 7 + 1 AS INT) AS ws_quantity,
         CAST((i * 17) % 120 + 30 AS DOUBLE) AS ws_list_price,
         CAST((i * 19) % 95 + 5 AS DOUBLE) AS ws_sales_price,
         CAST((i * 53) % 1440 AS INT) AS ws_sold_time_sk,
         CAST(i % 10 + 1 AS INT) AS ws_ship_hdemo_sk,
         CAST(i % 6 + 1 AS INT) AS ws_web_page_sk,
         CAST((i * 7) % 5 + 1 AS INT) AS ws_ship_mode_sk,
         CAST((i * 13) % 150 + 25 AS DOUBLE) AS ws_net_paid,
         CAST((i * 19) % 40 + 1 AS INT) AS ws_bill_addr_sk,
         CASE WHEN i % 5 = 0 THEN CAST(NULL AS INT) ELSE CAST(i % 8 + 1 AS INT) END AS ws_promo_sk,
         CAST((i * 23) % 170 + 40 AS DOUBLE) AS ws_net_paid_inc_tax,
         CAST((i * 13) % 55 + 8 AS DOUBLE) AS ws_wholesale_cost
  FROM generate_series(0, 1999) AS gs(i)
),
customer_address AS (
  SELECT CAST(i AS INT) AS ca_address_sk,
         CASE i % 8 WHEN 0 THEN 'TN' WHEN 1 THEN 'CA' WHEN 2 THEN 'WA'
              WHEN 3 THEN 'GA' WHEN 4 THEN 'TX' WHEN 5 THEN 'NY'
              WHEN 6 THEN 'OH' ELSE 'FL' END AS ca_state,
         lpad(CAST((i * 13) % 100000 AS STRING), 5, '0') AS ca_zip,
         'City_' || CAST(i % 6 AS STRING) AS ca_city,
         'County_' || CAST(i % 4 AS STRING) AS ca_county,
         CAST(0 - (i % 3 + 4) AS DOUBLE) AS ca_gmt_offset,
         'United States' AS ca_country,
         CAST(i * 10 AS STRING) AS ca_street_number,
         'Street_' || CAST(i % 7 AS STRING) AS ca_street_name,
         CASE i % 3 WHEN 0 THEN 'apartment' WHEN 1 THEN 'condo' ELSE 'single family' END AS ca_location_type
  FROM generate_series(1, 40) AS gs(i)
),
customer_demographics AS (
  SELECT CAST(i AS INT) AS cd_demo_sk,
         CASE i % 2 WHEN 0 THEN 'M' ELSE 'F' END AS cd_gender,
         CASE i % 5 WHEN 0 THEN 'D' WHEN 1 THEN 'M' WHEN 2 THEN 'S'
              WHEN 3 THEN 'W' ELSE 'U' END AS cd_marital_status,
         CASE i % 4 WHEN 0 THEN 'College' WHEN 1 THEN 'High School'
              WHEN 2 THEN 'Primary' ELSE 'Secondary' END AS cd_education_status,
         CAST(i % 5 AS INT) AS cd_dep_count,
         CAST((i % 6) * 500 + 500 AS INT) AS cd_purchase_estimate,
         CASE i % 4 WHEN 0 THEN 'Low Risk' WHEN 1 THEN 'Good'
              WHEN 2 THEN 'High Risk' ELSE 'Unknown' END AS cd_credit_rating,
         CAST(i % 3 AS INT) AS cd_dep_employed_count,
         CAST(i % 4 AS INT) AS cd_dep_college_count
  FROM generate_series(1, 30) AS gs(i)
),
household_demographics AS (
  SELECT CAST(i AS INT) AS hd_demo_sk,
         CAST(i % 8 AS INT) AS hd_dep_count,
         CAST(i % 5 AS INT) AS hd_vehicle_count,
         CASE i % 3 WHEN 0 THEN '>10000' WHEN 1 THEN '5001-10000'
              ELSE '501-1000' END AS hd_buy_potential,
         CAST((i * 7) % 20 + 1 AS INT) AS hd_income_band_sk
  FROM generate_series(1, 10) AS gs(i)
),
promotion AS (
  SELECT CAST(i AS INT) AS p_promo_sk,
         CASE i % 2 WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_dmail,
         CASE WHEN i % 3 = 0 THEN 'Y' ELSE 'N' END AS p_channel_email,
         CASE WHEN i % 4 = 0 THEN 'Y' ELSE 'N' END AS p_channel_event,
         CASE WHEN i % 5 = 0 THEN 'Y' ELSE 'N' END AS p_channel_tv
  FROM generate_series(1, 8) AS gs(i)
),
warehouse AS (
  SELECT CAST(i AS INT) AS w_warehouse_sk,
         'Warehouse_' || CAST(i AS STRING) AS w_warehouse_name,
         CASE i % 2 WHEN 0 THEN 'TN' ELSE 'CA' END AS w_state,
         CAST(i * 10000 + 50000 AS INT) AS w_warehouse_sq_ft,
         'City_' || CAST(i % 3 AS STRING) AS w_city,
         'County_' || CAST(i % 2 AS STRING) AS w_county,
         'United States' AS w_country
  FROM generate_series(1, 5) AS gs(i)
),
inventory AS (
  -- one row per (trading date, item, warehouse): 25 * 20 * 5; the
  -- 1-in-11 tiny quantities make q72's inv < cs_quantity live while
  -- the 20..499 bulk keeps q37's 100..500 band selective
  SELECT CAST(2450000 + (i % 25) * 45 AS INT) AS inv_date_sk,
         CAST(CAST(floor(i / 25.0) AS INT) % 20 + 1 AS INT) AS inv_item_sk,
         CAST(CAST(floor(i / 500.0) AS INT) + 1 AS INT) AS inv_warehouse_sk,
         CASE WHEN i % 11 = 0 THEN CAST(CAST(floor(i / 11.0) AS INT) % 9 AS INT)
              ELSE CAST((i * 7) % 480 + 20 AS INT) END AS inv_quantity_on_hand
  FROM generate_series(0, 2499) AS gs(i)
),
store_returns AS (
  -- every 3rd store_sales row returns one stride (45 days) later;
  -- k=24 sales return past the calendar and drop in date joins
  SELECT CAST(2450000 + ((CAST(floor((j * 3) / 80.0) AS INT) % 25) + 1) * 45 AS INT) AS sr_returned_date_sk,
         CAST((j * 3) % 20 + 1 AS INT) AS sr_item_sk,
         CAST((j * 3) % 49 + 1 AS INT) AS sr_customer_sk,
         CAST(j * 3 + 1 AS INT) AS sr_ticket_number,
         CAST(CAST(floor((j * 3) / 20.0) AS INT) % 4 + 1 AS INT) AS sr_store_sk,
         CAST((j * 13) % 180 + 20 AS DOUBLE) AS sr_return_amt,
         CAST((j * 7) % 90 + 10 AS DOUBLE) AS sr_net_loss,
         CAST(j % 5 + 1 AS INT) AS sr_reason_sk,
         CAST(j % 7 + 1 AS INT) AS sr_return_quantity,
         CAST((j * 7) % 30 + 1 AS INT) AS sr_cdemo_sk,
         CAST((j * 11) % 15 + 1 AS DOUBLE) AS sr_fee,
         CAST((j * 13) % 190 + 25 AS DOUBLE) AS sr_return_amt_inc_tax
  FROM generate_series(0, 999) AS gs(j)
),
catalog_returns AS (
  -- every 5th catalog_sales order returns (cr key mirrors cs row 5j)
  SELECT CAST(j * 5 AS INT) AS cr_order_number,
         CAST(((j * 5) * 13) % 20 + 1 AS INT) AS cr_item_sk,
         CAST((j * 11) % 60 + 5 AS DOUBLE) AS cr_return_amount,
         CAST((j * 5) % 49 + 1 AS INT) AS cr_returning_customer_sk,
         CAST(2450000 + ((CAST(floor((j * 5) / 80.0) AS INT) % 25) + 1) * 45 AS INT) AS cr_returned_date_sk,
         CAST((j * 13) % 70 + 7 AS DOUBLE) AS cr_return_amt_inc_tax,
         CAST(j % 6 + 1 AS INT) AS cr_return_quantity,
         CAST((j * 3) % 5 + 1 AS INT) AS cr_warehouse_sk,
         CAST((j * 17) % 80 + 10 AS DOUBLE) AS cr_net_loss,
         CAST(j % 2 + 1 AS INT) AS cr_call_center_sk,
         CAST((j * 5) % 10 + 1 AS INT) AS cr_catalog_page_sk,
         CAST((j * 7) % 50 + 5 AS DOUBLE) AS cr_refunded_cash,
         CAST((j * 3) % 30 + 2 AS DOUBLE) AS cr_reversed_charge,
         CAST((j * 5) % 25 + 1 AS DOUBLE) AS cr_store_credit
  FROM generate_series(0, 399) AS gs(j)
),
web_returns AS (
  -- stride 2 is coprime with 399, so returns cover ~75% of order
  -- numbers (q95's double-IN needs returned orders that also ship
  -- from two warehouses)
  SELECT CAST((j * 2) % 399 AS INT) AS wr_order_number,
         CAST(((j * 2) * 7) % 20 + 1 AS INT) AS wr_item_sk,
         CAST((j * 17) % 70 + 5 AS DOUBLE) AS wr_return_amt,
         CAST((j * 3) % 49 + 1 AS INT) AS wr_returning_customer_sk,
         CAST(2450000 + ((CAST(floor((j * 2) / 16.0) AS INT) % 25)) * 45 AS INT) AS wr_returned_date_sk,
         CAST(j % 6 + 1 AS INT) AS wr_return_quantity,
         CAST((j * 11) % 75 + 8 AS DOUBLE) AS wr_net_loss,
         CAST((j * 5) % 6 + 1 AS INT) AS wr_web_page_sk,
         CAST((j * 7) % 30 + 1 AS INT) AS wr_refunded_cdemo_sk,
         CAST(((j * 7) % 30 + 20) % 30 + 1 AS INT) AS wr_returning_cdemo_sk,
         CAST((j * 13) % 40 + 1 AS INT) AS wr_refunded_addr_sk,
         CAST(j % 5 + 1 AS INT) AS wr_reason_sk,
         CAST((j * 3) % 20 + 2 AS DOUBLE) AS wr_fee,
         CAST((j * 9) % 60 + 5 AS DOUBLE) AS wr_refunded_cash
  FROM generate_series(0, 299) AS gs(j)
),
time_dim AS (
  SELECT CAST(i AS INT) AS t_time_sk,
         CAST(i AS INT) AS t_time,
         CAST(floor(i / 60.0) AS INT) AS t_hour,
         CAST(i % 60 AS INT) AS t_minute,
         CASE WHEN i >= 360 AND i < 540 THEN 'breakfast'
              WHEN i >= 1020 AND i < 1140 THEN 'dinner'
              ELSE NULL END AS t_meal_time
  FROM generate_series(0, 1439) AS gs(i)
),
web_site AS (
  SELECT CAST(i AS INT) AS web_site_sk,
         CASE i % 2 WHEN 0 THEN 'pri' ELSE 'site' END AS web_company_name,
         'WS_' || CAST(i AS STRING) AS web_site_id,
         'site_' || CAST(i AS STRING) AS web_name
  FROM generate_series(1, 3) AS gs(i)
),
web_page AS (
  SELECT CAST(i AS INT) AS wp_web_page_sk,
         CAST(4800 + i * 80 AS INT) AS wp_char_count
  FROM generate_series(1, 6) AS gs(i)
),
reason AS (
  SELECT CAST(i AS INT) AS r_reason_sk,
         'reason ' || CAST(i AS STRING) AS r_reason_desc
  FROM generate_series(1, 5) AS gs(i)
),
ship_mode AS (
  SELECT CAST(i AS INT) AS sm_ship_mode_sk,
         CASE i WHEN 1 THEN 'EXPRESS' WHEN 2 THEN 'NEXT DAY' WHEN 3 THEN 'OVERNIGHT'
                WHEN 4 THEN 'REGULAR' ELSE 'LIBRARY' END AS sm_type,
         'CODE_' || CAST(i AS STRING) AS sm_code,
         'Carrier_' || CAST(i % 3 AS STRING) AS sm_carrier
  FROM generate_series(1, 5) AS gs(i)
),
call_center AS (
  SELECT CAST(i AS INT) AS cc_call_center_sk,
         'CC_' || CAST(i AS STRING) AS cc_name,
         'County_' || CAST(i % 2 AS STRING) AS cc_county,
         'CC_ID_' || CAST(i AS STRING) AS cc_call_center_id,
         'Manager_' || CAST(i AS STRING) AS cc_manager
  FROM generate_series(1, 2) AS gs(i)
),
catalog_page AS (
  SELECT CAST(i AS INT) AS cp_catalog_page_sk,
         'CP_' || lpad(CAST(i AS STRING), 3, '0') AS cp_catalog_page_id
  FROM generate_series(1, 10) AS gs(i)
),
income_band AS (
  SELECT CAST(i AS INT) AS ib_income_band_sk,
         CAST((i - 1) * 10000 AS INT) AS ib_lower_bound,
         CAST(i * 10000 AS INT) AS ib_upper_bound
  FROM generate_series(1, 20) AS gs(i)
),
t1 AS (
  -- cte_prune.sql:7-8: t1(v1,v2,v3) = (1..10, 11..20, 21..30)
  SELECT CAST(i AS INT) AS v1, CAST(i + 10 AS INT) AS v2, CAST(i + 20 AS INT) AS v3
  FROM generate_series(1, 10) AS gs(i)
)
"""


def materialize_hot_cte(
    spark: SparkSession, sf_dir: str, sql: str,
    min_refs: int = 3, qname: str = "shared",
) -> DataFrame | None:
    """Build many-referenced CTEs ONCE as scratch-parquet temp views
    and run the remainder against them (the year_total q04/q11/q74
    class: Catalyst inlines every CTE reference, so the 3-channel
    year_total would otherwise be recomputed per self-join arm — 6×
    in q04; q14's cross_items/avg_sales pair inlines into a
    176-exchange plan. The reference materializes shared CTEs once
    per slice; this is that plan, and at 100 TB the only survivable
    one). Handles multi-CTE texts by peeling leading CTEs in order:
    each with >= min_refs references downstream is materialized, the
    rest stay inline. Returns None when nothing qualifies, leaving
    the inline path untouched. The tables ``sql`` reads must already
    be registered as views."""
    kept: list[tuple[str, str]] = []
    made = 0
    remaining = sql
    while True:
        m = re.match(r"\s*with\s+(\w+)\s+as\s*\(", remaining, flags=re.I)
        if not m:
            break
        c = match_paren(remaining, m.end() - 1)
        if c < 0:
            return None
        cte, body = m.group(1), remaining[m.end() : c]
        rest = remaining[c + 1 :]
        mm = re.match(r"\s*,\s*", rest)
        # re-open the WITH for the next CTE so the loop peels it too
        rest_q = ("with " + rest[mm.end():]) if mm else rest
        # the retarget pattern (below) minus qualifiers: count only
        # table references, not a column qualified by the CTE's name
        # (cold.r_name), which would push a once-joined CTE to min_refs
        retarget = rf"(?<![\w.]){cte}\b(?!\s*\()"
        refs = len(re.findall(retarget + r"(?!\s*\.)", rest_q, flags=re.I))
        # a body referencing a KEPT (still-inline) earlier CTE cannot
        # be materialized independently — keep it inline as well
        dependent = any(
            re.search(rf"\b{k}\b", body, flags=re.I) for k, _ in kept
        )
        if refs >= min_refs and not dependent:
            df = spark.sql(translate_pg_sql(body))
            # Key the scratch path AND the temp-view name by query so
            # q04/q11/q74 (which share the CTE name year_total but not
            # its definition) can never read each other's
            # materialization (ADVICE r10); scratch.path keys it by SF
            # and process too.
            view = f"{qname}__{cte}"
            path = scratch.path(sf_dir, f"cte_materialized/{qname}/{cte}")
            df.write.mode("overwrite").parquet(path)
            # read back with the writer's schema: no footer-inference job
            spark.read.schema(df.schema).parquet(path).createOrReplaceTempView(
                view
            )
            # downstream TABLE references retarget to the per-query
            # view (later CTE bodies included). Qualified column refs
            # (q04's t_s_firstyear.year_total — the CTE exposes a
            # column named like itself) must NOT be rewritten: skip
            # matches preceded by '.' and matches in call position.
            rest_q = re.sub(retarget, view, rest_q, flags=re.I)
            made += 1
        else:
            kept.append((cte, body))
        remaining = rest_q
    if not made:
        return None
    if kept:
        heads = ", ".join(f"{n} as ({b})" for n, b in kept)
        remaining = f"with {heads} {remaining}"
    return spark.sql(translate_pg_sql(remaining))


def register_tpcds(
    name: str, sql: str, doc: str, tags: tuple[str, ...] = (),
    prelude: str | None = None, materialize_cte: bool = False,
    rewrite=None,
) -> None:
    """``prelude`` overrides the shared fixture (the nullable-FK
    variant for q69/q76); override queries always run CTE-inline —
    the scale soak's parquet views materialize the SHARED prelude.
    ``materialize_cte`` opts shared-prelude year_total-class texts
    into materialize_hot_cte (build-once plan for a CTE referenced >= 3
    times). ``rewrite`` (str -> str) transforms the SPARK-side text
    only — the oracle always runs the verbatim spec text, so the
    driver hash-verifies the rewrite is semantics-preserving (the
    q95 pair-explosion elimination rides this)."""
    shared = prelude is None
    if shared:
        prelude = TPCDS_PRELUDE
    oracle_full = _with_prelude(sql, prelude)
    if rewrite is not None:
        rewritten = rewrite(sql)
        assert rewritten != sql, f"{name}: rewrite hook did not fire"
        sql = rewritten
    full = _with_prelude(sql, prelude)
    # Shared-prelude queries read parquet-backed prelude views at every
    # K (r12 opt), which the registry wrapper registers in place of the
    # fixture views. Bench-only scale knob: identity unless
    # SPARK_GRAFT_DS_SCALE>1, and the oracle always compares against the
    # unscaled text. At K>1 the views fix the no-stats broadcast stall
    # (facts shuffle, dims broadcast); at K=1 they remove the ~19KB
    # per-call prelude re-parse/re-analyze (25-30% of each spec call)
    # and give the planner file stats.
    views = prelude_views(TPCDS_PRELUDE, "tpcds") if shared else None

    @register(
        name, oracle=oracle_full, doc=doc, tags=("tpcds_real",) + tags,
        views=views)
    def _q(spark: SparkSession, sf_dir: str, _sql: str = full,
           _orig: str = sql) -> DataFrame:
        if views is None:
            return spark.sql(translate_pg_sql(_sql))
        if materialize_cte:
            out = materialize_hot_cte(spark, sf_dir, _orig, qname=name)
            if out is not None:
                return out
        return spark.sql(translate_pg_sql(_orig))

    _q.__name__ = name


# ---------------------------------------------------------------------------
# TPC-DS q4 — the reference's own regress text (tpcds_q04.sql:5472-5591)
# ---------------------------------------------------------------------------

register_tpcds(
    "tpcds_q04_real",
    """
with year_total as (
 select c_customer_id customer_id
       ,c_first_name customer_first_name
       ,c_last_name customer_last_name
       ,c_preferred_cust_flag customer_preferred_cust_flag
       ,c_birth_country customer_birth_country
       ,c_login customer_login
       ,c_email_address customer_email_address
       ,d_year dyear
       ,sum(((ss_ext_list_price-ss_ext_wholesale_cost-ss_ext_discount_amt)+ss_ext_sales_price)/2) year_total
       ,'s' sale_type
 from customer
     ,store_sales
     ,date_dim
 where c_customer_sk = ss_customer_sk
   and ss_sold_date_sk = d_date_sk
 group by c_customer_id
         ,c_first_name
         ,c_last_name
         ,c_preferred_cust_flag
         ,c_birth_country
         ,c_login
         ,c_email_address
         ,d_year
 union all
 select c_customer_id customer_id
       ,c_first_name customer_first_name
       ,c_last_name customer_last_name
       ,c_preferred_cust_flag customer_preferred_cust_flag
       ,c_birth_country customer_birth_country
       ,c_login customer_login
       ,c_email_address customer_email_address
       ,d_year dyear
       ,sum((((cs_ext_list_price-cs_ext_wholesale_cost-cs_ext_discount_amt)+cs_ext_sales_price)/2)) year_total
       ,'c' sale_type
 from customer
     ,catalog_sales
     ,date_dim
 where c_customer_sk = cs_bill_customer_sk
   and cs_sold_date_sk = d_date_sk
 group by c_customer_id
         ,c_first_name
         ,c_last_name
         ,c_preferred_cust_flag
         ,c_birth_country
         ,c_login
         ,c_email_address
         ,d_year
 union all
 select c_customer_id customer_id
       ,c_first_name customer_first_name
       ,c_last_name customer_last_name
       ,c_preferred_cust_flag customer_preferred_cust_flag
       ,c_birth_country customer_birth_country
       ,c_login customer_login
       ,c_email_address customer_email_address
       ,d_year dyear
       ,sum((((ws_ext_list_price-ws_ext_wholesale_cost-ws_ext_discount_amt)+ws_ext_sales_price)/2)) year_total
       ,'w' sale_type
 from customer
     ,web_sales
     ,date_dim
 where c_customer_sk = ws_bill_customer_sk
   and ws_sold_date_sk = d_date_sk
 group by c_customer_id
         ,c_first_name
         ,c_last_name
         ,c_preferred_cust_flag
         ,c_birth_country
         ,c_login
         ,c_email_address
         ,d_year
         )
  select
                  t_s_secyear.customer_id
                 ,t_s_secyear.customer_first_name
                 ,t_s_secyear.customer_last_name
                 ,t_s_secyear.customer_login
 from year_total t_s_firstyear
     ,year_total t_s_secyear
     ,year_total t_c_firstyear
     ,year_total t_c_secyear
     ,year_total t_w_firstyear
     ,year_total t_w_secyear
 where t_s_secyear.customer_id = t_s_firstyear.customer_id
   and t_s_firstyear.customer_id = t_c_secyear.customer_id
   and t_s_firstyear.customer_id = t_c_firstyear.customer_id
   and t_s_firstyear.customer_id = t_w_firstyear.customer_id
   and t_s_firstyear.customer_id = t_w_secyear.customer_id
   and t_s_firstyear.sale_type = 's'
   and t_c_firstyear.sale_type = 'c'
   and t_w_firstyear.sale_type = 'w'
   and t_s_secyear.sale_type = 's'
   and t_c_secyear.sale_type = 'c'
   and t_w_secyear.sale_type = 'w'
   and t_s_firstyear.dyear =  2001
   and t_s_secyear.dyear = 2001+1
   and t_c_firstyear.dyear =  2001
   and t_c_secyear.dyear =  2001+1
   and t_w_firstyear.dyear = 2001
   and t_w_secyear.dyear = 2001+1
   and t_s_firstyear.year_total > 0
   and t_c_firstyear.year_total > 0
   and t_w_firstyear.year_total > 0
   and case when t_c_firstyear.year_total > 0 then
t_c_secyear.year_total / t_c_firstyear.year_total else null end > case
when t_s_firstyear.year_total > 0 then t_s_secyear.year_total /
t_s_firstyear.year_total else null end
   and case when t_c_firstyear.year_total > 0 then
t_c_secyear.year_total / t_c_firstyear.year_total else null end > case
when t_w_firstyear.year_total > 0 then t_w_secyear.year_total /
t_w_firstyear.year_total else null end
 order by t_s_secyear.customer_id
         ,t_s_secyear.customer_first_name
         ,t_s_secyear.customer_last_name
         ,t_s_secyear.customer_login
limit 100
""",
    "src/test/regress/sql/tpcds_q04.sql:5472-5591 — the reference's full "
    "TPC-DS q4 text verbatim (schema qualifiers dropped; year constants "
    "kept: the fixture spans 2000-2002 so 2001/2002 are live). Output is "
    "string-typed and keyed by unique customer_id, so the LIMIT is "
    "deterministic. The 6-way CTE self-join is the reference's "
    "gp_cte_sharing showcase; on Spark the year_total CTE plan is reused "
    "per Catalyst CTE dedup and each branch is a partial-agg hash join.",
    tags=("q4",),
    materialize_cte=True,
)


# ---------------------------------------------------------------------------
# TPC-DS q47 / q67 — published spec texts (the reference benches the full
# suite at 1TB: contrib/pax_storage/doc/performance.md:65-185)
# ---------------------------------------------------------------------------

register_tpcds(
    "tpcds_q47_real",
    """
with v1 as (
 select i_category, i_brand, s_store_name, s_company_name, d_year, d_moy,
        sum(ss_sales_price) sum_sales,
        avg(sum(ss_sales_price)) over
          (partition by i_category, i_brand, s_store_name, s_company_name, d_year) avg_monthly_sales,
        rank() over
          (partition by i_category, i_brand, s_store_name, s_company_name
           order by d_year, d_moy) rn
 from item, store_sales, date_dim, store
 where ss_item_sk = i_item_sk and
       ss_sold_date_sk = d_date_sk and
       ss_store_sk = s_store_sk and
       (d_year = 2001 or (d_year = 2001-1 and d_moy = 12) or (d_year = 2001+1 and d_moy = 1))
 group by i_category, i_brand, s_store_name, s_company_name, d_year, d_moy
),
v2 as (
 select v1.i_category, v1.i_brand, v1.s_store_name, v1.s_company_name,
        v1.d_year, v1.d_moy, v1.avg_monthly_sales, v1.sum_sales,
        v1_lag.sum_sales psum, v1_lead.sum_sales nsum
 from v1, v1 v1_lag, v1 v1_lead
 where v1.i_category = v1_lag.i_category and v1.i_category = v1_lead.i_category
   and v1.i_brand = v1_lag.i_brand and v1.i_brand = v1_lead.i_brand
   and v1.s_store_name = v1_lag.s_store_name and v1.s_store_name = v1_lead.s_store_name
   and v1.s_company_name = v1_lag.s_company_name and v1.s_company_name = v1_lead.s_company_name
   and v1.rn = v1_lag.rn + 1 and v1.rn = v1_lead.rn - 1
)
select i_category, i_brand, s_store_name, s_company_name, d_year, d_moy,
       avg_monthly_sales, sum_sales, psum, nsum
from v2
where d_year = 2001
  and avg_monthly_sales > 0
  and case when avg_monthly_sales > 0
           then abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
           else null end > 0.1
order by sum_sales - avg_monthly_sales,
         i_category, i_brand, s_store_name, s_company_name, d_year, d_moy
limit 100
""",
    "TPC-DS spec q47 (year shifted 1999->2001 for the fixture range; "
    "ORDER BY extended with the v2 unique key after the spec's float "
    "delta so the LIMIT is a deterministic top-100; spec's bare "
    "`order by ..., 3` tiebreak replaced by the full key). Monetary "
    "values are integer-valued doubles, so sum/avg/ratio are exact IEEE "
    "ops and bit-identical across engines. The avg(sum(..)) over (..) "
    "nested-aggregate window and the rank-offset self-join (prev/next "
    "month without lag/lead) are the tested shapes.",
    tags=("q47",),
)

register_tpcds(
    "tpcds_q67_real",
    """
select i_category, i_class, i_brand, i_product_name, d_year, d_qoy, d_moy,
       s_store_id, sumsales, rk
from (select i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
             d_moy, s_store_id, sumsales,
             rank() over (partition by i_category order by sumsales desc) rk
      from (select i_category, i_class, i_brand, i_product_name, d_year,
                   d_qoy, d_moy, s_store_id,
                   sum(coalesce(ss_sales_price * ss_quantity, 0)) sumsales
            from store_sales, date_dim, store, item
            where ss_sold_date_sk = d_date_sk
              and ss_item_sk = i_item_sk
              and ss_store_sk = s_store_sk
              and d_month_seq between 1200 and 1200 + 11
            group by rollup(i_category, i_class, i_brand, i_product_name,
                            d_year, d_qoy, d_moy, s_store_id)) dw1) dw2
where rk <= 10
order by i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
         d_moy, s_store_id, sumsales, rk
limit 100
""",
    "TPC-DS spec q67 (8-column ROLLUP + per-category rank of sumsales; "
    "rk cutoff 100->10 so the deterministic ORDER BY's LIMIT keeps the "
    "result under it at fixture scale; the spec ORDER BY is already the "
    "full output key). d_month_seq 1200-1211 is calendar-2001 under the "
    "prelude's d_month_seq = 1188 + months-since-2000 mapping, matching "
    "the spec's 12-month window semantics.",
    tags=("q67",),
)


# ---------------------------------------------------------------------------
# cte_prune.sql TPC-DS fragments (q23 / q95 CTE shapes), executed
# ---------------------------------------------------------------------------

register_tpcds(
    "tpcds_q23_frequent_items",
    """
with frequent_ss_items as
 (select substr(i_item_desc, 1, 30) itemdesc, i_item_sk item_sk,
         d_date solddate, count(*) cnt
  from store_sales
      ,date_dim
      ,item
  where ss_sold_date_sk = d_date_sk
    and ss_item_sk = i_item_sk
    and d_year in (2000, 2000+1, 2000+2)
  group by substr(i_item_desc, 1, 30), i_item_sk, d_date
  having count(*) > 4)
select t1.v1 from t1 where t1.v1 in (select item_sk from frequent_ss_items where true)
    and t1.v1 in (select item_sk from frequent_ss_items where item_sk > 0)
order by t1.v1
""",
    "src/test/regress/sql/cte_prune.sql:217-229 — the reference's TPC-DS "
    "q23 frequent_ss_items fragment (CTE consumed twice under different "
    "IN-subquery predicates; its gp_cte_sharing prune case), executed "
    "with d_year 1999.. shifted to the fixture's 2000-2002. The mixed-"
    "radix fixture gives every (item, d_date) pair ~6 rows so the "
    "HAVING count(*) > 4 filter is live, not vacuous.",
    tags=("q23",),
)

register_tpcds(
    "tpcds_q95_order_warehouses",
    """
with ws_wh as
 (select ws1.ws_order_number, ws1.ws_warehouse_sk wh1, ws2.ws_warehouse_sk wh2
  from web_sales ws1, web_sales ws2
  where ws1.ws_order_number = ws2.ws_order_number
    and ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
select v1, v2, v3 from t1
where t1.v1 in (select ws_order_number from ws_wh where true)
  and t1.v1 in (select ws_order_number from ws_wh where ws_order_number > 0)
order by v1
""",
    "src/test/regress/sql/cte_prune.sql:231-238 — the reference's TPC-DS "
    "q95 ws_wh fragment: multi-warehouse order detection via CTE "
    "self-join with <>, consumed by two IN-subqueries. ws_order_number "
    "uses modulus 399 (coprime to the 5 warehouses) so orders genuinely "
    "span warehouses; with 400 the join would be vacuously empty.",
    tags=("q95",),
)


register_tpcds(
    "tpcds_q11_real",
    """
with year_total as (
 select c_customer_id customer_id
       ,c_first_name customer_first_name
       ,c_last_name customer_last_name
       ,c_preferred_cust_flag customer_preferred_cust_flag
       ,c_birth_country customer_birth_country
       ,c_login customer_login
       ,c_email_address customer_email_address
       ,d_year dyear
       ,sum(ss_ext_list_price-ss_ext_discount_amt) year_total
       ,'s' sale_type
 from customer
     ,store_sales
     ,date_dim
 where c_customer_sk = ss_customer_sk
   and ss_sold_date_sk = d_date_sk
 group by c_customer_id
         ,c_first_name
         ,c_last_name
         ,c_preferred_cust_flag
         ,c_birth_country
         ,c_login
         ,c_email_address
         ,d_year
 union all
 select c_customer_id customer_id
       ,c_first_name customer_first_name
       ,c_last_name customer_last_name
       ,c_preferred_cust_flag customer_preferred_cust_flag
       ,c_birth_country customer_birth_country
       ,c_login customer_login
       ,c_email_address customer_email_address
       ,d_year dyear
       ,sum(ws_ext_list_price-ws_ext_discount_amt) year_total
       ,'w' sale_type
 from customer
     ,web_sales
     ,date_dim
 where c_customer_sk = ws_bill_customer_sk
   and ws_sold_date_sk = d_date_sk
 group by c_customer_id
         ,c_first_name
         ,c_last_name
         ,c_preferred_cust_flag
         ,c_birth_country
         ,c_login
         ,c_email_address
         ,d_year
         )
select t_s_secyear.customer_id
      ,t_s_secyear.customer_first_name
      ,t_s_secyear.customer_last_name
      ,t_s_secyear.customer_birth_country
from year_total t_s_firstyear
    ,year_total t_s_secyear
    ,year_total t_w_firstyear
    ,year_total t_w_secyear
where t_s_secyear.customer_id = t_s_firstyear.customer_id
  and t_s_firstyear.customer_id = t_w_secyear.customer_id
  and t_s_firstyear.customer_id = t_w_firstyear.customer_id
  and t_s_firstyear.sale_type = 's'
  and t_w_firstyear.sale_type = 'w'
  and t_s_secyear.sale_type = 's'
  and t_w_secyear.sale_type = 'w'
  and t_s_firstyear.dyear = 2001
  and t_s_secyear.dyear = 2001+1
  and t_w_firstyear.dyear = 2001
  and t_w_secyear.dyear = 2001+1
  and t_s_firstyear.year_total > 0
  and t_w_firstyear.year_total > 0
  and case when t_w_firstyear.year_total > 0
           then t_w_secyear.year_total / t_w_firstyear.year_total
           else 0.0 end
      > case when t_s_firstyear.year_total > 0
             then t_s_secyear.year_total / t_s_firstyear.year_total
             else 0.0 end
order by t_s_secyear.customer_id
        ,t_s_secyear.customer_first_name
        ,t_s_secyear.customer_last_name
        ,t_s_secyear.customer_birth_country
limit 100
""",
    "TPC-DS spec q11 — q4's two-channel (store + web) year-over-year "
    "CTE with a 4-way self-join; same fixture years (2001/2002), "
    "string-only output keyed by unique customer_id so the LIMIT is "
    "deterministic. Exercises the else-0.0 ratio variant (q4 uses "
    "else NULL).",
    tags=("q11",),
    materialize_cte=True,
)


# ---------------------------------------------------------------------------
# gp_cte_sharing analog: q4 with year_total materialized ONCE
# ---------------------------------------------------------------------------

_TPCDS_Q04_TEXT = """
with year_total as (
 select c_customer_id customer_id
       ,c_first_name customer_first_name
       ,c_last_name customer_last_name
       ,c_preferred_cust_flag customer_preferred_cust_flag
       ,c_birth_country customer_birth_country
       ,c_login customer_login
       ,c_email_address customer_email_address
       ,d_year dyear
       ,sum(((ss_ext_list_price-ss_ext_wholesale_cost-ss_ext_discount_amt)+ss_ext_sales_price)/2) year_total
       ,'s' sale_type
 from customer
     ,store_sales
     ,date_dim
 where c_customer_sk = ss_customer_sk
   and ss_sold_date_sk = d_date_sk
 group by c_customer_id
         ,c_first_name
         ,c_last_name
         ,c_preferred_cust_flag
         ,c_birth_country
         ,c_login
         ,c_email_address
         ,d_year
 union all
 select c_customer_id customer_id
       ,c_first_name customer_first_name
       ,c_last_name customer_last_name
       ,c_preferred_cust_flag customer_preferred_cust_flag
       ,c_birth_country customer_birth_country
       ,c_login customer_login
       ,c_email_address customer_email_address
       ,d_year dyear
       ,sum((((cs_ext_list_price-cs_ext_wholesale_cost-cs_ext_discount_amt)+cs_ext_sales_price)/2)) year_total
       ,'c' sale_type
 from customer
     ,catalog_sales
     ,date_dim
 where c_customer_sk = cs_bill_customer_sk
   and cs_sold_date_sk = d_date_sk
 group by c_customer_id
         ,c_first_name
         ,c_last_name
         ,c_preferred_cust_flag
         ,c_birth_country
         ,c_login
         ,c_email_address
         ,d_year
 union all
 select c_customer_id customer_id
       ,c_first_name customer_first_name
       ,c_last_name customer_last_name
       ,c_preferred_cust_flag customer_preferred_cust_flag
       ,c_birth_country customer_birth_country
       ,c_login customer_login
       ,c_email_address customer_email_address
       ,d_year dyear
       ,sum((((ws_ext_list_price-ws_ext_wholesale_cost-ws_ext_discount_amt)+ws_ext_sales_price)/2)) year_total
       ,'w' sale_type
 from customer
     ,web_sales
     ,date_dim
 where c_customer_sk = ws_bill_customer_sk
   and ws_sold_date_sk = d_date_sk
 group by c_customer_id
         ,c_first_name
         ,c_last_name
         ,c_preferred_cust_flag
         ,c_birth_country
         ,c_login
         ,c_email_address
         ,d_year
         )
  select
                  t_s_secyear.customer_id
                 ,t_s_secyear.customer_first_name
                 ,t_s_secyear.customer_last_name
                 ,t_s_secyear.customer_login
 from year_total t_s_firstyear
     ,year_total t_s_secyear
     ,year_total t_c_firstyear
     ,year_total t_c_secyear
     ,year_total t_w_firstyear
     ,year_total t_w_secyear
 where t_s_secyear.customer_id = t_s_firstyear.customer_id
   and t_s_firstyear.customer_id = t_c_secyear.customer_id
   and t_s_firstyear.customer_id = t_c_firstyear.customer_id
   and t_s_firstyear.customer_id = t_w_firstyear.customer_id
   and t_s_firstyear.customer_id = t_w_secyear.customer_id
   and t_s_firstyear.sale_type = 's'
   and t_c_firstyear.sale_type = 'c'
   and t_w_firstyear.sale_type = 'w'
   and t_s_secyear.sale_type = 's'
   and t_c_secyear.sale_type = 'c'
   and t_w_secyear.sale_type = 'w'
   and t_s_firstyear.dyear =  2001
   and t_s_secyear.dyear = 2001+1
   and t_c_firstyear.dyear =  2001
   and t_c_secyear.dyear =  2001+1
   and t_w_firstyear.dyear = 2001
   and t_w_secyear.dyear = 2001+1
   and t_s_firstyear.year_total > 0
   and t_c_firstyear.year_total > 0
   and t_w_firstyear.year_total > 0
   and case when t_c_firstyear.year_total > 0 then
t_c_secyear.year_total / t_c_firstyear.year_total else null end > case
when t_s_firstyear.year_total > 0 then t_s_secyear.year_total /
t_s_firstyear.year_total else null end
   and case when t_c_firstyear.year_total > 0 then
t_c_secyear.year_total / t_c_firstyear.year_total else null end > case
when t_w_firstyear.year_total > 0 then t_w_secyear.year_total /
t_w_firstyear.year_total else null end
 order by t_s_secyear.customer_id
         ,t_s_secyear.customer_first_name
         ,t_s_secyear.customer_last_name
         ,t_s_secyear.customer_login
limit 100
"""

_Q4_YT_HEAD = "with year_total as ("
_Q4_TAIL_MARK = "select\n                  t_s_secyear.customer_id"


@register(
    "tpcds_q04_shared_cte",
    oracle=_with_prelude("""
with year_total as (
 select c_customer_id customer_id
       ,c_first_name customer_first_name
       ,c_last_name customer_last_name
       ,c_preferred_cust_flag customer_preferred_cust_flag
       ,c_birth_country customer_birth_country
       ,c_login customer_login
       ,c_email_address customer_email_address
       ,d_year dyear
       ,sum(((ss_ext_list_price-ss_ext_wholesale_cost-ss_ext_discount_amt)+ss_ext_sales_price)/2) year_total
       ,'s' sale_type
 from customer
     ,store_sales
     ,date_dim
 where c_customer_sk = ss_customer_sk
   and ss_sold_date_sk = d_date_sk
 group by c_customer_id
         ,c_first_name
         ,c_last_name
         ,c_preferred_cust_flag
         ,c_birth_country
         ,c_login
         ,c_email_address
         ,d_year
 union all
 select c_customer_id customer_id
       ,c_first_name customer_first_name
       ,c_last_name customer_last_name
       ,c_preferred_cust_flag customer_preferred_cust_flag
       ,c_birth_country customer_birth_country
       ,c_login customer_login
       ,c_email_address customer_email_address
       ,d_year dyear
       ,sum((((cs_ext_list_price-cs_ext_wholesale_cost-cs_ext_discount_amt)+cs_ext_sales_price)/2)) year_total
       ,'c' sale_type
 from customer
     ,catalog_sales
     ,date_dim
 where c_customer_sk = cs_bill_customer_sk
   and cs_sold_date_sk = d_date_sk
 group by c_customer_id
         ,c_first_name
         ,c_last_name
         ,c_preferred_cust_flag
         ,c_birth_country
         ,c_login
         ,c_email_address
         ,d_year
 union all
 select c_customer_id customer_id
       ,c_first_name customer_first_name
       ,c_last_name customer_last_name
       ,c_preferred_cust_flag customer_preferred_cust_flag
       ,c_birth_country customer_birth_country
       ,c_login customer_login
       ,c_email_address customer_email_address
       ,d_year dyear
       ,sum((((ws_ext_list_price-ws_ext_wholesale_cost-ws_ext_discount_amt)+ws_ext_sales_price)/2)) year_total
       ,'w' sale_type
 from customer
     ,web_sales
     ,date_dim
 where c_customer_sk = ws_bill_customer_sk
   and ws_sold_date_sk = d_date_sk
 group by c_customer_id
         ,c_first_name
         ,c_last_name
         ,c_preferred_cust_flag
         ,c_birth_country
         ,c_login
         ,c_email_address
         ,d_year
         )
  select
                  t_s_secyear.customer_id
                 ,t_s_secyear.customer_first_name
                 ,t_s_secyear.customer_last_name
                 ,t_s_secyear.customer_login
 from year_total t_s_firstyear
     ,year_total t_s_secyear
     ,year_total t_c_firstyear
     ,year_total t_c_secyear
     ,year_total t_w_firstyear
     ,year_total t_w_secyear
 where t_s_secyear.customer_id = t_s_firstyear.customer_id
   and t_s_firstyear.customer_id = t_c_secyear.customer_id
   and t_s_firstyear.customer_id = t_c_firstyear.customer_id
   and t_s_firstyear.customer_id = t_w_firstyear.customer_id
   and t_s_firstyear.customer_id = t_w_secyear.customer_id
   and t_s_firstyear.sale_type = 's'
   and t_c_firstyear.sale_type = 'c'
   and t_w_firstyear.sale_type = 'w'
   and t_s_secyear.sale_type = 's'
   and t_c_secyear.sale_type = 'c'
   and t_w_secyear.sale_type = 'w'
   and t_s_firstyear.dyear =  2001
   and t_s_secyear.dyear = 2001+1
   and t_c_firstyear.dyear =  2001
   and t_c_secyear.dyear =  2001+1
   and t_w_firstyear.dyear = 2001
   and t_w_secyear.dyear = 2001+1
   and t_s_firstyear.year_total > 0
   and t_c_firstyear.year_total > 0
   and t_w_firstyear.year_total > 0
   and case when t_c_firstyear.year_total > 0 then
t_c_secyear.year_total / t_c_firstyear.year_total else null end > case
when t_s_firstyear.year_total > 0 then t_s_secyear.year_total /
t_s_firstyear.year_total else null end
   and case when t_c_firstyear.year_total > 0 then
t_c_secyear.year_total / t_c_firstyear.year_total else null end > case
when t_w_firstyear.year_total > 0 then t_w_secyear.year_total /
t_w_firstyear.year_total else null end
 order by t_s_secyear.customer_id
         ,t_s_secyear.customer_first_name
         ,t_s_secyear.customer_last_name
         ,t_s_secyear.customer_login
limit 100
""", TPCDS_PRELUDE),
    doc="tpcds_q04 with the reference's gp_cte_sharing plan shape made "
    "explicit: Catalyst inlines a 6-times-referenced CTE into six "
    "copies (six scans of each channel at 100 TB), while GPDB's "
    "shared CTE scan computes year_total once. This variant "
    "materializes year_total to scratch parquet (exact AQE stats) and "
    "runs the 6-way self-join over the materialized relation — one "
    "scan per channel plus six scans of the small aggregate, the "
    "scale-correct form. Same rows as tpcds_q04_real.",
    tags=("tpcds_real", "q4", "cte_sharing"),
)
def tpcds_q04_shared_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _TPCDS_Q04_TEXT
    head = src.index(_Q4_YT_HEAD)
    tail = src.index(_Q4_TAIL_MARK)
    yt_sql = src[head + len(_Q4_YT_HEAD): src.rindex(")", 0, tail)]
    yt = spark.sql(translate_pg_sql(_with_prelude(yt_sql, TPCDS_PRELUDE)))
    path = scratch.path(sf_dir, "tpcds_q04_year_total")
    yt.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("year_total")
    return spark.sql(translate_pg_sql(src[tail:]))


# ---------------------------------------------------------------------------
# Round 9: 22 more real TPC-DS texts — the two remaining reference-corpus
# texts (gporca minidump SQL comments: q70a, q37) plus 20 spec queries,
# prioritized by the reference's published 1TB timings
# (contrib/pax_storage/doc/performance.md:65-185; q72 is its slowest).
# ---------------------------------------------------------------------------

register_tpcds(
    "tpcds_q01_real",
    """
with customer_total_return as (
 select sr_customer_sk as ctr_customer_sk, sr_store_sk as ctr_store_sk,
        sum(sr_return_amt) as ctr_total_return
 from store_returns, date_dim
 where sr_returned_date_sk = d_date_sk and d_year = 2000
 group by sr_customer_sk, sr_store_sk)
select c_customer_id
from customer_total_return ctr1, store, customer
where ctr1.ctr_total_return > (select avg(ctr_total_return) * 1.2
                               from customer_total_return ctr2
                               where ctr1.ctr_store_sk = ctr2.ctr_store_sk)
  and s_store_sk = ctr1.ctr_store_sk
  and s_state = 'TN'
  and ctr1.ctr_customer_sk = c_customer_sk
order by c_customer_id
limit 100
""",
    'TPC-DS spec q1 (customer returns above 1.2x the per-store average: correlated scalar AVG subquery over a shared CTE; year kept 2000; s_state TN live in the fixture). Output is the unique-keyed c_customer_id so the LIMIT is deterministic.',
    tags=("q01",),
)

register_tpcds(
    "tpcds_q03_real",
    """
select dt.d_year, item.i_brand_id brand_id, item.i_brand brand,
       sum(ss_ext_sales_price) sum_agg
from date_dim dt, store_sales, item
where dt.d_date_sk = store_sales.ss_sold_date_sk
  and store_sales.ss_item_sk = item.i_item_sk
  and item.i_manufact_id = 103
  and dt.d_moy = 11
group by dt.d_year, item.i_brand, item.i_brand_id
order by dt.d_year, sum_agg desc, brand_id
limit 100
""",
    "TPC-DS spec q3 (brand revenue for a manufacturer in November of each year; i_manufact_id 128->103 for the fixture's manufact id space; November is a live trading month all three fixture years).",
    tags=("q03",),
)

register_tpcds(
    "tpcds_q06_real",
    """
select a.ca_state state, count(*) cnt
from customer_address a, customer c, store_sales s, date_dim d, item i
where a.ca_address_sk = c.c_current_addr_sk
  and c.c_customer_sk = s.ss_customer_sk
  and s.ss_sold_date_sk = d.d_date_sk
  and s.ss_item_sk = i.i_item_sk
  and d.d_month_seq = (select distinct (d_month_seq)
                       from date_dim where d_year = 2001 and d_moy = 2)
  and i.i_current_price > 1.2 * (select avg(j.i_current_price)
                                 from item j
                                 where j.i_category = i.i_category)
group by a.ca_state
having count(*) >= 2
order by cnt, state
limit 100
""",
    'TPC-DS spec q6 (state-level count of sales of above-average-priced items in one month: scalar DISTINCT d_month_seq subquery + correlated per-category AVG price subquery; d_moy 1->2 since January is not a fixture trading month; HAVING >= 10 -> >= 2 at fixture scale; ORDER BY extended with state as tiebreaker under ties in cnt).',
    tags=("q06",),
)

register_tpcds(
    "tpcds_q07_real",
    """
select i_item_id,
       avg(ss_quantity) agg1,
       avg(ss_list_price) agg2,
       avg(ss_coupon_amt) agg3,
       avg(ss_sales_price) agg4
from store_sales, customer_demographics, date_dim, item, promotion
where ss_sold_date_sk = d_date_sk
  and ss_item_sk = i_item_sk
  and ss_cdemo_sk = cd_demo_sk
  and ss_promo_sk = p_promo_sk
  and cd_gender = 'M'
  and cd_marital_status = 'S'
  and cd_education_status = 'College'
  and (p_channel_email = 'N' or p_channel_event = 'N')
  and d_year = 2000
group by i_item_id
order by i_item_id
limit 100
""",
    'TPC-DS spec q7 (four AVGs per item over a demographics/promotion slice; avg of ints and of integer-valued doubles is an exact sum divided once, bit-identical across engines).',
    tags=("q07",),
)

register_tpcds(
    "tpcds_q15_real",
    """
select ca_zip, sum(cs_sales_price) as sum_sales
from catalog_sales, customer, customer_address, date_dim
where cs_bill_customer_sk = c_customer_sk
  and c_current_addr_sk = ca_address_sk
  and (substr(ca_zip, 1, 5) in ('85669','86197','88274','83405','86475',
                                '85392','85460','80348','81792')
       or ca_state in ('CA','WA','GA')
       or cs_sales_price > 500)
  and cs_sold_date_sk = d_date_sk
  and d_qoy = 2 and d_year = 2001
group by ca_zip
order by ca_zip
limit 100
""",
    "TPC-DS spec q15 (catalog sales by customer zip with the spec's zip-prefix/state/price disjunction; fixture rows qualify through the state branch).",
    tags=("q15",),
)

register_tpcds(
    "tpcds_q19_real",
    """
select i_brand_id brand_id, i_brand brand, i_manufact_id, i_manufact,
       sum(ss_ext_sales_price) ext_price
from date_dim, store_sales, item, customer, customer_address, store
where d_date_sk = ss_sold_date_sk
  and ss_item_sk = i_item_sk
  and i_manager_id = 3
  and d_moy = 11
  and d_year = 2000
  and ss_customer_sk = c_customer_sk
  and c_current_addr_sk = ca_address_sk
  and substr(ca_zip, 1, 5) <> substr(s_zip, 1, 5)
  and ss_store_sk = s_store_sk
group by i_brand, i_brand_id, i_manufact_id, i_manufact
order by ext_price desc, i_brand, i_brand_id, i_manufact_id, i_manufact
limit 100
""",
    'TPC-DS spec q19 (brand revenue where buyer and store zip prefixes differ; i_manager_id 8->3, year 1998->2000 for the fixture).',
    tags=("q19",),
)

register_tpcds(
    "tpcds_q23_real",
    """
with frequent_ss_items as (
 select substr(i_item_desc, 1, 30) itemdesc, i_item_sk item_sk,
        d_date solddate, count(*) cnt
 from store_sales, date_dim, item
 where ss_sold_date_sk = d_date_sk
   and ss_item_sk = i_item_sk
   and d_year in (2000, 2000 + 1, 2000 + 2)
 group by substr(i_item_desc, 1, 30), i_item_sk, d_date
 having count(*) > 4),
max_store_sales as (
 select max(csales) tpcv
 from (select c_customer_sk, sum(ss_quantity * ss_sales_price) csales
       from store_sales, customer, date_dim
       where ss_customer_sk = c_customer_sk
         and ss_sold_date_sk = d_date_sk
         and d_year in (2000, 2000 + 1, 2000 + 2)
       group by c_customer_sk) x),
best_ss_customer as (
 select c_customer_sk, sum(ss_quantity * ss_sales_price) ssales
 from store_sales, customer
 where ss_customer_sk = c_customer_sk
 group by c_customer_sk
 having sum(ss_quantity * ss_sales_price) > (95 / 100.0) *
        (select * from max_store_sales))
select sum(sales) as sales
from (select cs_quantity * cs_list_price sales
      from catalog_sales, date_dim
      where d_year = 2000 and d_moy = 2
        and cs_sold_date_sk = d_date_sk
        and cs_item_sk in (select item_sk from frequent_ss_items)
        and cs_bill_customer_sk in (select c_customer_sk from best_ss_customer)
      union all
      select ws_quantity * ws_list_price sales
      from web_sales, date_dim
      where d_year = 2000 and d_moy = 2
        and ws_sold_date_sk = d_date_sk
        and ws_item_sk in (select item_sk from frequent_ss_items)
        and ws_bill_customer_sk in (select c_customer_sk from best_ss_customer)) y
limit 100
""",
    "TPC-DS spec q23 part 1 IN FULL (frequent_ss_items / max_store_sales / best_ss_customer CTE chain with the spec's 95/100.0 top-spender threshold, cross-channel UNION ALL, single-row SUM; years 1999-2002 -> 2000-2002). Completes the cte_prune.sql fragment (tpcds_q23_frequent_items) into the whole query.",
    tags=("q23",),
)

register_tpcds(
    "tpcds_q25_real",
    """
select i_item_id, i_item_desc, s_store_id, s_store_name,
       sum(ss_net_profit) as store_sales_profit,
       sum(sr_net_loss) as store_returns_loss,
       sum(cs_net_profit) as catalog_sales_profit
from store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2,
     date_dim d3, store, item
where d1.d_moy = 5
  and d1.d_year = 2001
  and d1.d_date_sk = ss_sold_date_sk
  and i_item_sk = ss_item_sk
  and s_store_sk = ss_store_sk
  and ss_customer_sk = sr_customer_sk
  and ss_item_sk = sr_item_sk
  and ss_ticket_number = sr_ticket_number
  and sr_returned_date_sk = d2.d_date_sk
  and d2.d_moy between 5 and 10
  and d2.d_year = 2001
  and sr_customer_sk = cs_bill_customer_sk
  and sr_item_sk = cs_item_sk
  and cs_sold_date_sk = d3.d_date_sk
  and d3.d_moy between 5 and 10
  and d3.d_year = 2001
group by i_item_id, i_item_desc, s_store_id, s_store_name
order by i_item_id, i_item_desc, s_store_id, s_store_name
limit 100
""",
    'TPC-DS spec q25 (store sales in month m joined through store_returns in m..m+5 to catalog re-purchases: 3 date_dim aliases, ticket-number join; d_moy 4->5 since April is not a fixture trading month).',
    tags=("q25",),
)

register_tpcds(
    "tpcds_q26_real",
    """
select i_item_id,
       avg(cs_quantity) agg1,
       avg(cs_list_price) agg2,
       avg(cs_coupon_amt) agg3,
       avg(cs_sales_price) agg4
from catalog_sales, customer_demographics, date_dim, item, promotion
where cs_sold_date_sk = d_date_sk
  and cs_item_sk = i_item_sk
  and cs_bill_cdemo_sk = cd_demo_sk
  and cs_promo_sk = p_promo_sk
  and cd_gender = 'M'
  and cd_marital_status = 'S'
  and cd_education_status = 'College'
  and (p_channel_email = 'N' or p_channel_event = 'N')
  and d_year = 2000
group by i_item_id
order by i_item_id
limit 100
""",
    'TPC-DS spec q26 (catalog twin of q7: four AVGs per item over bill-customer demographics + promotion).',
    tags=("q26",),
)

register_tpcds(
    "tpcds_q37_real",
    """
select i_item_id, i_item_desc, i_current_price
from item, inventory, date_dim, catalog_sales
where i_current_price between 28 and 28 + 30
  and inv_item_sk = i_item_sk
  and d_date_sk = inv_date_sk
  and d_date between cast('2000-02-01' as date) and (cast('2000-02-01' as date) + 60)
  and i_manufact_id in (101, 103, 105, 940)
  and inv_quantity_on_hand between 100 and 500
  and cs_item_sk = i_item_sk
group by i_item_id, i_item_desc, i_current_price
order by i_item_id
limit 100
""",
    "The reference's own TPC-DS q37 text (src/backend/gporca/data/dxl/minidump/Tpcds-10TB-Q37-NoIndexJoin.mdp SQL comment — kept there because an index join regresses it 10TB-scale; here the plan is a broadcast-dim hash join chain). i_manufact_id list adapted to the fixture id space (101/103/105 live, 940 vacuous).",
    tags=("q37",),
)

register_tpcds(
    "tpcds_q42_real",
    """
select dt.d_year, item.i_category_id, item.i_category,
       sum(ss_ext_sales_price) sum_sales
from date_dim dt, store_sales, item
where dt.d_date_sk = store_sales.ss_sold_date_sk
  and store_sales.ss_item_sk = item.i_item_sk
  and item.i_manager_id = 1
  and dt.d_moy = 11
  and dt.d_year = 2000
group by dt.d_year, item.i_category_id, item.i_category
order by sum_sales desc, dt.d_year, item.i_category_id, item.i_category
limit 100
""",
    "TPC-DS spec q42 (category revenue for one manager-month; ORDER BY is the spec's sum-desc plus full group key so the LIMIT is deterministic).",
    tags=("q42",),
)

register_tpcds(
    "tpcds_q52_real",
    """
select dt.d_year, item.i_brand_id brand_id, item.i_brand brand,
       sum(ss_ext_sales_price) ext_price
from date_dim dt, store_sales, item
where dt.d_date_sk = store_sales.ss_sold_date_sk
  and store_sales.ss_item_sk = item.i_item_sk
  and item.i_manager_id = 1
  and dt.d_moy = 11
  and dt.d_year = 2000
group by dt.d_year, item.i_brand, item.i_brand_id
order by dt.d_year, ext_price desc, brand_id
limit 100
""",
    'TPC-DS spec q52 (brand revenue for one manager-month, the q42 twin keyed by brand).',
    tags=("q52",),
)

register_tpcds(
    "tpcds_q55_real",
    """
select i_brand_id brand_id, i_brand brand, sum(ss_ext_sales_price) ext_price
from date_dim, store_sales, item
where d_date_sk = ss_sold_date_sk
  and ss_item_sk = i_item_sk
  and i_manager_id = 3
  and d_moy = 11
  and d_year = 2000
group by i_brand, i_brand_id
order by ext_price desc, brand_id
limit 100
""",
    'TPC-DS spec q55 (brand revenue for one manager-month, no year output; i_manager_id 28->3, year 1999->2000).',
    tags=("q55",),
)

register_tpcds(
    "tpcds_q59_real",
    """
with wss as (
 select d_week_seq, ss_store_sk,
        sum(case when (d_day_name = 'Sunday') then ss_sales_price else null end) sun_sales,
        sum(case when (d_day_name = 'Monday') then ss_sales_price else null end) mon_sales,
        sum(case when (d_day_name = 'Tuesday') then ss_sales_price else null end) tue_sales,
        sum(case when (d_day_name = 'Wednesday') then ss_sales_price else null end) wed_sales,
        sum(case when (d_day_name = 'Thursday') then ss_sales_price else null end) thu_sales,
        sum(case when (d_day_name = 'Friday') then ss_sales_price else null end) fri_sales,
        sum(case when (d_day_name = 'Saturday') then ss_sales_price else null end) sat_sales
 from store_sales, date_dim
 where d_date_sk = ss_sold_date_sk
 group by d_week_seq, ss_store_sk)
select s_store_name1, s_store_id1, d_week_seq1,
       sun_sales1 / sun_sales2, mon_sales1 / mon_sales2,
       tue_sales1 / tue_sales2, wed_sales1 / wed_sales2,
       thu_sales1 / thu_sales2, fri_sales1 / fri_sales2,
       sat_sales1 / sat_sales2
from (select s_store_name s_store_name1, wss.d_week_seq d_week_seq1,
             s_store_id s_store_id1, sun_sales sun_sales1,
             mon_sales mon_sales1, tue_sales tue_sales1,
             wed_sales wed_sales1, thu_sales thu_sales1,
             fri_sales fri_sales1, sat_sales sat_sales1
      from wss, store, date_dim d
      where d.d_week_seq = wss.d_week_seq
        and ss_store_sk = s_store_sk
        and d_month_seq between 1200 and 1200 + 11) y,
     (select s_store_name s_store_name2, wss.d_week_seq d_week_seq2,
             s_store_id s_store_id2, sun_sales sun_sales2,
             mon_sales mon_sales2, tue_sales tue_sales2,
             wed_sales wed_sales2, thu_sales thu_sales2,
             fri_sales fri_sales2, sat_sales sat_sales2
      from wss, store, date_dim d
      where d.d_week_seq = wss.d_week_seq
        and ss_store_sk = s_store_sk
        and d_month_seq between 1200 + 12 and 1200 + 23) x
where s_store_id1 = s_store_id2
  and d_week_seq1 = d_week_seq2 - 52
order by s_store_name1, s_store_id1, d_week_seq1
limit 100
""",
    "TPC-DS spec q59 (week-over-week per-store day-of-week sales ratios: wss pivot CTE joined to itself 52 weeks apart across two month_seq windows; month_seq 1212->1200 anchors the fixture's 2001/2002 years). The fixture trades one day per 45-day stride, so paired weeks never share a weekday and the ratio columns are NULL on both engines — the join/pivot structure and the non-null store/week keys carry the hash.",
    tags=("q59",),
)

register_tpcds(
    "tpcds_q61_real",
    """
select promotions, total,
       cast(promotions as double) / cast(total as double) * 100 as promo_pct
from (select sum(ss_ext_sales_price) promotions
      from store_sales, store, promotion, date_dim, customer,
           customer_address, item
      where ss_sold_date_sk = d_date_sk
        and ss_store_sk = s_store_sk
        and ss_promo_sk = p_promo_sk
        and ss_customer_sk = c_customer_sk
        and ca_address_sk = c_current_addr_sk
        and ss_item_sk = i_item_sk
        and ca_gmt_offset = -5
        and i_category = 'Category_1'
        and (p_channel_dmail = 'Y' or p_channel_email = 'Y' or p_channel_tv = 'Y')
        and s_gmt_offset = -5
        and d_year = 2000
        and d_moy = 11) promotional_sales,
     (select sum(ss_ext_sales_price) total
      from store_sales, store, date_dim, customer, customer_address, item
      where ss_sold_date_sk = d_date_sk
        and ss_store_sk = s_store_sk
        and ss_customer_sk = c_customer_sk
        and ca_address_sk = c_current_addr_sk
        and ss_item_sk = i_item_sk
        and ca_gmt_offset = -5
        and i_category = 'Category_1'
        and s_gmt_offset = -5
        and d_year = 2000
        and d_moy = 11) all_sales
order by promotions, total
limit 100
""",
    'TPC-DS spec q61 (promotional vs total sales ratio for one category/timezone/month: two single-row subquery factors; decimal(15,4) casts -> double since integer-valued sums divide exactly in IEEE; i_category Jewelry->Category_1, gmt_offset/-5 live in the fixture).',
    tags=("q61",),
)

register_tpcds(
    "tpcds_q68_real",
    """
select c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number,
       extended_price, extended_tax, list_price
from (select ss_ticket_number, ss_customer_sk, ca_city bought_city,
             sum(ss_ext_sales_price) extended_price,
             sum(ss_ext_list_price) list_price,
             sum(ss_ext_tax) extended_tax
      from store_sales, date_dim, store, household_demographics,
           customer_address
      where ss_sold_date_sk = d_date_sk
        and ss_store_sk = s_store_sk
        and ss_hdemo_sk = hd_demo_sk
        and ss_addr_sk = ca_address_sk
        and d_dom between 1 and 2
        and (hd_dep_count = 4 or hd_vehicle_count = 3)
        and d_year in (2000, 2000 + 1, 2000 + 2)
        and s_city in ('Midway', 'Fairview')
      group by ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
     customer, customer_address current_addr
where ss_customer_sk = c_customer_sk
  and customer.c_current_addr_sk = current_addr.ca_address_sk
  and current_addr.ca_city <> bought_city
order by c_last_name, ss_ticket_number
limit 100
""",
    'TPC-DS spec q68 (per-ticket extended price/tax/list aggregates for dom-1..2 shoppers in two cities, then a bought-city <> current-city anti-predicate through two customer_address roles; years 1999-2001 -> 2000-2002).',
    tags=("q68",),
)

register_tpcds(
    "tpcds_q70a_real",
    """
with results as
( select
    sum(ss_net_profit) as total_sum ,s_state ,s_county, 0 as gstate, 0 as g_county
 from
    store_sales
   ,date_dim       d1
   ,store
 where
    d1.d_year = 2000
 and d1.d_date_sk = ss_sold_date_sk
 and s_store_sk  = ss_store_sk
 and s_state in
             ( select s_state
               from  (select s_state as s_state,
              rank() over ( partition by s_state order by sum(ss_net_profit) desc) as ranking
                      from   store_sales, store, date_dim
                      where  d_year =2000
               and d_date_sk = ss_sold_date_sk
               and s_store_sk  = ss_store_sk
                      group by s_state
                     ) tmp1
               where ranking <= 5)
  group by s_state,s_county) ,
 results_rollup as
( select total_sum ,s_state ,s_county, 0 as g_state, 0 as g_county, 0 as lochierarchy from results
 union
 select sum(total_sum) as total_sum,s_state, NULL as s_county, 0 as g_state, 1 as g_county, 1 as lochierarchy from results group by s_state
 union
 select sum(total_sum) as total_sum ,NULL as s_state ,NULL as s_county, 1 as g_state, 1 as g_county, 2 as lochierarchy from results)
 select total_sum ,s_state ,s_county, lochierarchy
   ,rank() over (
  partition by lochierarchy,
  case when g_county = 0 then s_state end
  order by total_sum desc) as rank_within_parent
 from results_rollup
 order by
   lochierarchy desc
  ,case when lochierarchy = 0 then s_state end
  ,rank_within_parent
""",
    "The reference's own TPC-DS q70 variant text VERBATIM (src/backend/gporca/data/dxl/minidump/Tpcds-NonPart-Q70a.mdp SQL comment): manual three-level rollup via UNION with grouping flags, rank() over a CASE partition key, top-5-state windowed IN subquery. No LIMIT, so the NULL-keyed ordering differences cannot truncate rows; year kept 2000.",
    tags=("q70a",),
)

register_tpcds(
    "tpcds_q72_real",
    """
select i_item_desc, w_warehouse_name, d1.d_week_seq,
       cast(sum(case when p_promo_sk is null then 1 else 0 end) as bigint) no_promo,
       cast(sum(case when p_promo_sk is not null then 1 else 0 end) as bigint) promo,
       count(*) total_cnt
from catalog_sales
join inventory on (cs_item_sk = inv_item_sk)
join warehouse on (w_warehouse_sk = inv_warehouse_sk)
join item on (i_item_sk = cs_item_sk)
join customer_demographics on (cs_bill_cdemo_sk = cd_demo_sk)
join household_demographics on (cs_bill_hdemo_sk = hd_demo_sk)
join date_dim d1 on (cs_sold_date_sk = d1.d_date_sk)
join date_dim d2 on (inv_date_sk = d2.d_date_sk)
join date_dim d3 on (cs_ship_date_sk = d3.d_date_sk)
left outer join promotion on (cs_promo_sk = p_promo_sk)
left outer join catalog_returns on (cr_item_sk = cs_item_sk
                                    and cr_order_number = cs_order_number)
where d1.d_week_seq = d2.d_week_seq
  and inv_quantity_on_hand < cs_quantity
  and d3.d_date > d1.d_date + 5
  and hd_buy_potential = '>10000'
  and d1.d_year = 2000
  and cd_marital_status = 'D'
group by i_item_desc, w_warehouse_name, d1.d_week_seq
order by total_cnt desc, i_item_desc, w_warehouse_name, d1.d_week_seq
limit 100
""",
    "TPC-DS spec q72 (the reference's slowest published TPC-DS query — contrib/pax_storage/doc/performance.md: ~319s at 1TB: catalog_sales x inventory same-week join with quantity shortfall, two LEFT JOINs, 3 date_dim roles; year 1999->2000; ORDER BY d_week_seq qualified to d1 as both PG and Spark resolve the output-name reference that DuckDB rejects; the two conditional sums carry BIGINT casts so DuckDB's SUM(int)=HUGEINT and Spark's long agree in dtype kind).",
    tags=("q72",),
)

register_tpcds(
    "tpcds_q90_real",
    """
select cast(amc as double) / cast(pmc as double) am_pm_ratio
from (select count(*) amc
      from web_sales, household_demographics, time_dim, web_page
      where ws_sold_time_sk = time_dim.t_time_sk
        and ws_ship_hdemo_sk = household_demographics.hd_demo_sk
        and ws_web_page_sk = web_page.wp_web_page_sk
        and time_dim.t_hour between 8 and 8 + 1
        and household_demographics.hd_dep_count = 6
        and web_page.wp_char_count between 5000 and 5200) at_sales,
     (select count(*) pmc
      from web_sales, household_demographics, time_dim, web_page
      where ws_sold_time_sk = time_dim.t_time_sk
        and ws_ship_hdemo_sk = household_demographics.hd_demo_sk
        and ws_web_page_sk = web_page.wp_web_page_sk
        and time_dim.t_hour between 19 and 19 + 1
        and household_demographics.hd_dep_count = 6
        and web_page.wp_char_count between 5000 and 5200) pm_sales
order by am_pm_ratio
limit 100
""",
    'TPC-DS spec q90 (am/pm order-count ratio through time_dim/web_page/household_demographics; decimal casts -> double: the counts are exact integers and the single division is bit-identical).',
    tags=("q90",),
)

register_tpcds(
    "tpcds_q95_real",
    """
with ws_wh as (
 select ws1.ws_order_number, ws1.ws_warehouse_sk wh1, ws2.ws_warehouse_sk wh2
 from web_sales ws1, web_sales ws2
 where ws1.ws_order_number = ws2.ws_order_number
   and ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
select count(distinct ws_order_number) as order_count,
       sum(ws_ext_ship_cost) as total_shipping_cost,
       sum(ws_net_profit) as total_net_profit
from web_sales ws1, date_dim, customer_address, web_site
where d_date between cast('2000-02-01' as date) and (cast('2000-02-01' as date) + 60)
  and ws1.ws_ship_date_sk = d_date_sk
  and ws1.ws_ship_addr_sk = ca_address_sk
  and ca_state = 'TX'
  and ws1.ws_web_site_sk = web_site_sk
  and web_company_name = 'pri'
  and ws1.ws_order_number in (select ws_order_number from ws_wh)
  and ws1.ws_order_number in (select wr_order_number from web_returns, ws_wh
                              where wr_order_number = ws_wh.ws_order_number)
order by count(distinct ws_order_number)
limit 100
""",
    'TPC-DS spec q95 IN FULL (ws_wh multi-warehouse self-join CTE reused three ways: FROM-less IN, and IN-join against web_returns; 60-day ship window, one-row aggregate output). Completes the cte_prune.sql fragment (tpcds_q95_order_warehouses) into the whole query. Spark side runs the pair-explosion-free rewrite (ws_wh -> GROUP BY HAVING count(DISTINCT wh) > 1, operators/rewrites.py rewrite_selfjoin_distinct_in); the oracle runs the verbatim text, so the driver hash-verifies the rewrite.',
    tags=("q95",),
    rewrite=rewrite_selfjoin_distinct_in,
)

register_tpcds(
    "tpcds_q96_real",
    """
select count(*) as cnt
from store_sales, household_demographics, time_dim, store
where ss_sold_time_sk = time_dim.t_time_sk
  and ss_hdemo_sk = household_demographics.hd_demo_sk
  and ss_store_sk = s_store_sk
  and time_dim.t_hour = 20
  and time_dim.t_minute >= 30
  and household_demographics.hd_dep_count = 7
  and store.s_store_name = 'Store_2'
order by count(*)
limit 100
""",
    'TPC-DS spec q96 (bare COUNT(*) through a 4-way dimension filter chain: half-open evening time slot, dep_count household slice, one store; s_store_name ese->Store_2).',
    tags=("q96",),
)

register_tpcds(
    "tpcds_q98_real",
    """
select i_item_id, i_item_desc, i_category, i_class, i_current_price,
       sum(ss_ext_sales_price) as itemrevenue,
       sum(ss_ext_sales_price) * 100 / sum(sum(ss_ext_sales_price))
         over (partition by i_class) as revenueratio
from store_sales, item, date_dim
where ss_item_sk = i_item_sk
  and i_category in ('Category_0', 'Category_1', 'Category_2')
  and ss_sold_date_sk = d_date_sk
  and d_date between cast('2000-02-01' as date) and (cast('2000-02-01' as date) + 30)
group by i_item_id, i_item_desc, i_category, i_class, i_current_price
order by i_category, i_class, i_item_id, i_item_desc, revenueratio
limit 100
""",
    "TPC-DS spec q98 (item revenue with a windowed class-share ratio: sum over sum(sum()) OVER (PARTITION BY i_class); 30-day window anchored to the fixture's Feb-2000 trading date; categories mapped to the fixture's Category_0..2).",
    tags=("q98",),
)


# ---------------------------------------------------------------------------
# Round 9, tranche 2: 34 more spec texts toward the full 99-query corpus
# (the reference publishes all-99 timings: contrib/pax_storage/doc/
# performance.md:65-185). q69 is excluded: its EXISTS/NOT-EXISTS channel
# split is structurally empty at fixture density (every customer is active
# in every channel every month) — see MIGRATION.md.
# ---------------------------------------------------------------------------

register_tpcds(
    "tpcds_q09_real",
    """
select case when (select count(*) from store_sales
                  where ss_quantity between 1 and 3) > 400
            then (select cast(round(avg(ss_ext_sales_price), 2) as double) from store_sales
                  where ss_quantity between 1 and 3)
            else (select cast(round(avg(ss_net_profit), 2) as double) from store_sales
                  where ss_quantity between 1 and 3) end bucket1,
       case when (select count(*) from store_sales
                  where ss_quantity between 4 and 6) > 300
            then (select cast(round(avg(ss_ext_sales_price), 2) as double) from store_sales
                  where ss_quantity between 4 and 6)
            else (select cast(round(avg(ss_net_profit), 2) as double) from store_sales
                  where ss_quantity between 4 and 6) end bucket2,
       case when (select count(*) from store_sales
                  where ss_quantity between 7 and 9) > 500
            then (select cast(round(avg(ss_ext_sales_price), 2) as double) from store_sales
                  where ss_quantity between 7 and 9)
            else (select cast(round(avg(ss_net_profit), 2) as double) from store_sales
                  where ss_quantity between 7 and 9) end bucket3
from reason
where r_reason_sk = 1
""",
    "TPC-DS spec q9 (CASE-routed bucket averages via 15 scalar subqueries over quantity bands, seeded from the reason table; thresholds kept, quantity bands narrowed to the fixture's 1..9 range).",
    tags=("q09",),
)

register_tpcds(
    "tpcds_q12_real",
    """
select i_item_id, i_item_desc, i_category, i_class, i_current_price,
       sum(ws_ext_sales_price) as itemrevenue,
       sum(ws_ext_sales_price) * 100 / sum(sum(ws_ext_sales_price))
         over (partition by i_class) as revenueratio
from web_sales, item, date_dim
where ws_item_sk = i_item_sk
  and i_category in ('Category_0', 'Category_1', 'Category_2')
  and ws_sold_date_sk = d_date_sk
  and d_date between cast('2000-02-01' as date) and (cast('2000-02-01' as date) + 30)
group by i_item_id, i_item_desc, i_category, i_class, i_current_price
order by i_category, i_class, i_item_id, i_item_desc, revenueratio
limit 100
""",
    "TPC-DS spec q12 (web item revenue with windowed class-share ratio — the q98 web twin; 30-day window anchored to the fixture's Feb-2000 trading date).",
    tags=("q12",),
)

register_tpcds(
    "tpcds_q13_real",
    """
select cast(round(avg(ss_quantity), 4) as double) as avg_qty,
       cast(round(avg(ss_ext_sales_price), 2) as double) as avg_esp,
       cast(round(avg(ss_ext_wholesale_cost), 2) as double) as avg_ewc,
       cast(round(sum(ss_ext_wholesale_cost), 2) as double) as sum_ewc
from store_sales, store, customer_demographics, household_demographics,
     customer_address, date_dim
where s_store_sk = ss_store_sk
  and ss_sold_date_sk = d_date_sk and d_year = 2001
  and ((ss_hdemo_sk = hd_demo_sk and cd_demo_sk = ss_cdemo_sk
        and cd_marital_status = 'M' and cd_education_status = 'College'
        and ss_sales_price between 10.00 and 150.00 and hd_dep_count = 6)
    or (ss_hdemo_sk = hd_demo_sk and cd_demo_sk = ss_cdemo_sk
        and cd_marital_status = 'S' and cd_education_status = 'High School'
        and ss_sales_price between 50.00 and 200.00 and hd_dep_count = 7)
    or (ss_hdemo_sk = hd_demo_sk and cd_demo_sk = ss_cdemo_sk
        and cd_marital_status = 'W' and cd_education_status = 'Primary'
        and ss_sales_price between 5.00 and 100.00 and hd_dep_count = 0))
  and ((ss_addr_sk = ca_address_sk and ca_country = 'United States'
        and ca_state in ('TN', 'OH', 'TX')
        and ss_net_profit between 0 and 100)
    or (ss_addr_sk = ca_address_sk and ca_country = 'United States'
        and ca_state in ('WA', 'NY', 'FL')
        and ss_net_profit between 0 and 100)
    or (ss_addr_sk = ca_address_sk and ca_country = 'United States'
        and ca_state in ('CA', 'GA', 'TX')
        and ss_net_profit between 0 and 100))
""",
    'TPC-DS spec q13 (three-way demographic/price disjunction x three-way address/profit disjunction over one join tree; marital/education/dep-count triples mapped to residue-compatible fixture combinations, states to live fixture states).',
    tags=("q13",),
)

register_tpcds(
    "tpcds_q18_real",
    """
select i_item_id, ca_country, ca_state, ca_county,
       cast(round(avg(cast(cs_quantity as double)), 4) as double) agg1,
       cast(round(avg(cast(cs_list_price as double)), 4) as double) agg2,
       cast(round(avg(cast(cs_coupon_amt as double)), 4) as double) agg3,
       cast(round(avg(cast(cs_sales_price as double)), 4) as double) agg4,
       cast(round(avg(cast(cs_net_profit as double)), 4) as double) agg5,
       cast(round(avg(cast(c_birth_year as double)), 4) as double) agg6,
       cast(round(avg(cast(cd1.cd_dep_count as double)), 4) as double) agg7
from catalog_sales, customer_demographics cd1, customer_demographics cd2,
     customer, customer_address, date_dim, item
where cs_sold_date_sk = d_date_sk
  and cs_item_sk = i_item_sk
  and cs_bill_cdemo_sk = cd1.cd_demo_sk
  and cs_bill_customer_sk = c_customer_sk
  and cd1.cd_gender = 'M' and cd1.cd_education_status = 'College'
  and c_current_cdemo_sk = cd2.cd_demo_sk
  and c_current_addr_sk = ca_address_sk
  and c_birth_month in (1, 6, 8, 9, 12, 2)
  and d_year = 2001
  and ca_state in ('TN', 'CA', 'WA', 'GA', 'TX', 'NY', 'OH')
group by rollup(i_item_id, ca_country, ca_state, ca_county)
order by ca_country, ca_state, ca_county, i_item_id
limit 100
""",
    "TPC-DS spec q18 (catalog AVGs over two customer_demographics roles + rollup(i_item_id, ca_country, ca_state, ca_county); spec's decimal(12,2) casts -> rounded doubles; gender F->M since the fixture's F/College residues are disjoint — noted).",
    tags=("q18",),
)

register_tpcds(
    "tpcds_q20_real",
    """
select i_item_id, i_item_desc, i_category, i_class, i_current_price,
       sum(cs_ext_sales_price) as itemrevenue,
       sum(cs_ext_sales_price) * 100 / sum(sum(cs_ext_sales_price))
         over (partition by i_class) as revenueratio
from catalog_sales, item, date_dim
where cs_item_sk = i_item_sk
  and i_category in ('Category_0', 'Category_1', 'Category_2')
  and cs_sold_date_sk = d_date_sk
  and d_date between cast('2000-02-01' as date) and (cast('2000-02-01' as date) + 30)
group by i_item_id, i_item_desc, i_category, i_class, i_current_price
order by i_category, i_class, i_item_id, i_item_desc, revenueratio
limit 100
""",
    'TPC-DS spec q20 (catalog twin of q12/q98 windowed class-share ratio).',
    tags=("q20",),
)

register_tpcds(
    "tpcds_q21_real",
    """
select w_warehouse_name, i_item_id,
       cast(sum(case when d_date < cast('2001-04-30' as date)
                then inv_quantity_on_hand else 0 end) as bigint) as inv_before,
       cast(sum(case when d_date >= cast('2001-04-30' as date)
                then inv_quantity_on_hand else 0 end) as bigint) as inv_after
from inventory, warehouse, item, date_dim
where i_current_price between 10 and 10 + 60
  and i_item_sk = inv_item_sk
  and inv_warehouse_sk = w_warehouse_sk
  and inv_date_sk = d_date_sk
  and d_date between (cast('2001-04-30' as date) - 45)
                 and (cast('2001-04-30' as date) + 45)
group by w_warehouse_name, i_item_id
having (case when sum(case when d_date < cast('2001-04-30' as date)
                      then inv_quantity_on_hand else 0 end) > 0
             then cast(sum(case when d_date >= cast('2001-04-30' as date)
                           then inv_quantity_on_hand else 0 end) as double)
                  / sum(case when d_date < cast('2001-04-30' as date)
                        then inv_quantity_on_hand else 0 end)
             else null end) between 2.0 / 3.0 and 3.0 / 2.0
order by w_warehouse_name, i_item_id
limit 100
""",
    'TPC-DS spec q21 (warehouse inventory before/after a date split with a 2/3..3/2 HAVING band; anchor moved to 2001-04-30 +/-45d so both sides of the split hit fixture trading dates).',
    tags=("q21",),
)

register_tpcds(
    "tpcds_q22_real",
    """
select i_product_name, i_brand, i_class, i_category,
       cast(round(avg(cast(inv_quantity_on_hand as double)), 6) as double) qoh
from inventory, date_dim, item
where inv_date_sk = d_date_sk
  and inv_item_sk = i_item_sk
  and d_month_seq between 1200 and 1200 + 11
group by rollup(i_product_name, i_brand, i_class, i_category)
order by qoh, i_product_name, i_brand, i_class, i_category
limit 100
""",
    'TPC-DS spec q22 (12-month average quantity-on-hand over rollup(product, brand, class, category)).',
    tags=("q22",),
)

register_tpcds(
    "tpcds_q27_real",
    """
select i_item_id, s_state,
       cast(grouping(s_state) as int) g_state,
       cast(round(avg(cast(ss_quantity as double)), 4) as double) agg1,
       cast(round(avg(cast(ss_list_price as double)), 4) as double) agg2,
       cast(round(avg(cast(ss_coupon_amt as double)), 4) as double) agg3,
       cast(round(avg(cast(ss_sales_price as double)), 4) as double) agg4
from store_sales, customer_demographics, date_dim, store, item
where ss_sold_date_sk = d_date_sk
  and ss_item_sk = i_item_sk
  and ss_store_sk = s_store_sk
  and ss_cdemo_sk = cd_demo_sk
  and cd_gender = 'M' and cd_marital_status = 'S'
  and cd_education_status = 'College'
  and d_year = 2000
  and s_state in ('TN', 'CA', 'GA', 'TN', 'CA', 'GA')
group by rollup(i_item_id, s_state)
order by i_item_id, s_state
limit 100
""",
    "TPC-DS spec q27 (store AVGs by item/state over rollup with grouping(s_state) flag; states mapped to the fixture's TN/CA/GA).",
    tags=("q27",),
)

register_tpcds(
    "tpcds_q29_real",
    """
select i_item_id, i_item_desc, s_store_id, s_store_name,
       cast(sum(ss_quantity) as bigint) as store_sales_quantity,
       cast(sum(sr_return_quantity) as bigint) as store_returns_quantity,
       cast(sum(cs_quantity) as bigint) as catalog_sales_quantity
from store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2,
     date_dim d3, store, item
where d1.d_moy = 5
  and d1.d_year = 2001
  and d1.d_date_sk = ss_sold_date_sk
  and i_item_sk = ss_item_sk
  and s_store_sk = ss_store_sk
  and ss_customer_sk = sr_customer_sk
  and ss_item_sk = sr_item_sk
  and ss_ticket_number = sr_ticket_number
  and sr_returned_date_sk = d2.d_date_sk
  and d2.d_moy between 5 and 5 + 3
  and d2.d_year = 2001
  and sr_customer_sk = cs_bill_customer_sk
  and sr_item_sk = cs_item_sk
  and cs_sold_date_sk = d3.d_date_sk
  and d3.d_year in (2001, 2001 + 1, 2001 + 2)
group by i_item_id, i_item_desc, s_store_id, s_store_name
order by i_item_id, i_item_desc, s_store_id, s_store_name
limit 100
""",
    'TPC-DS spec q29 (quantity flow: store sale -> store return within 4 months -> catalog re-purchase within 3 years, three date_dim roles; d_moy 4->5 for the fixture trading calendar).',
    tags=("q29",),
)

register_tpcds(
    "tpcds_q32_real",
    """
select cast(round(sum(cs_ext_discount_amt), 2) as double) as excess_discount_amount
from catalog_sales, item, date_dim
where i_manufact_id = 103
  and i_item_sk = cs_item_sk
  and d_date between cast('2000-02-01' as date) and (cast('2000-02-01' as date) + 90)
  and d_date_sk = cs_sold_date_sk
  and cs_ext_discount_amt > (select 1.3 * avg(cs_ext_discount_amt)
                             from catalog_sales, date_dim
                             where cs_item_sk = i_item_sk
                               and d_date between cast('2000-02-01' as date)
                                              and (cast('2000-02-01' as date) + 90)
                               and d_date_sk = cs_sold_date_sk)
limit 100
""",
    'TPC-DS spec q32 (catalog excess discount: correlated 1.3x-average subquery per item; manufact id mapped to the fixture space).',
    tags=("q32",),
)

register_tpcds(
    "tpcds_q36_real",
    """
select cast(round(sum(ss_net_profit), 2) as double)
         / cast(round(sum(ss_ext_sales_price), 2) as double) as gross_margin,
       i_category, i_class,
       cast(grouping(i_category) + grouping(i_class) as int) as lochierarchy,
       rank() over (
         partition by grouping(i_category) + grouping(i_class),
         case when grouping(i_class) = 0 then i_category end
         order by sum(ss_net_profit) / sum(ss_ext_sales_price) asc) as rank_within_parent
from store_sales, date_dim d1, item, store
where d1.d_year = 2001
  and d1.d_date_sk = ss_sold_date_sk
  and i_item_sk = ss_item_sk
  and s_store_sk = ss_store_sk
  and s_state in ('TN', 'CA', 'GA', 'TN', 'CA', 'GA')
group by rollup(i_category, i_class)
order by lochierarchy desc,
         case when grouping(i_category) + grouping(i_class) = 0 then i_category end,
         rank_within_parent, i_category, i_class
limit 100
""",
    'TPC-DS spec q36 (gross-margin rollup with grouping()-derived lochierarchy and rank() partitioned by a CASE-of-grouping key — the q70-family shape; ORDER BY extended with the group keys for tie-stability).',
    tags=("q36",),
)

register_tpcds(
    "tpcds_q38_real",
    """
select count(*) as cnt
from (select distinct c_last_name, c_first_name, d_date
      from store_sales, date_dim, customer
      where store_sales.ss_sold_date_sk = date_dim.d_date_sk
        and store_sales.ss_customer_sk = customer.c_customer_sk
        and d_month_seq between 1188 and 1188 + 11
      intersect
      select distinct c_last_name, c_first_name, d_date
      from catalog_sales, date_dim, customer
      where catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
        and catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
        and d_month_seq between 1188 and 1188 + 11
      intersect
      select distinct c_last_name, c_first_name, d_date
      from web_sales, date_dim, customer
      where web_sales.ws_sold_date_sk = date_dim.d_date_sk
        and web_sales.ws_bill_customer_sk = customer.c_customer_sk
        and d_month_seq between 1188 and 1188 + 11) hot_cust
limit 100
""",
    'TPC-DS spec q38 (three-channel INTERSECT of distinct customer-date tuples over a 12-month window).',
    tags=("q38",),
)

register_tpcds(
    "tpcds_q40_real",
    """
select w_state, i_item_id,
       cast(round(sum(case when d_date < cast('2001-03-15' as date)
                then cs_sales_price - coalesce(cr_return_amount, 0)
                else 0 end), 2) as double) as sales_before,
       cast(round(sum(case when d_date >= cast('2001-03-15' as date)
                then cs_sales_price - coalesce(cr_return_amount, 0)
                else 0 end), 2) as double) as sales_after
from catalog_sales
left outer join catalog_returns on (cs_order_number = cr_order_number
                                    and cs_item_sk = cr_item_sk),
     warehouse, item, date_dim
where i_current_price between 10 and 10 + 60
  and i_item_sk = cs_item_sk
  and cs_warehouse_sk = w_warehouse_sk
  and cs_sold_date_sk = d_date_sk
  and d_date between (cast('2001-03-15' as date) - 30)
                 and (cast('2001-03-15' as date) + 30)
group by w_state, i_item_id
order by w_state, i_item_id
limit 100
""",
    'TPC-DS spec q40 (catalog sales net of returns by warehouse state before/after a date split, LEFT JOIN on order+item; anchor 2001-04-30-compatible window).',
    tags=("q40",),
)

register_tpcds(
    "tpcds_q43_real",
    """
select s_store_name, s_store_id,
       cast(round(sum(case when (d_day_name = 'Sunday') then ss_sales_price else null end), 2) as double) sun_sales,
       cast(round(sum(case when (d_day_name = 'Monday') then ss_sales_price else null end), 2) as double) mon_sales,
       cast(round(sum(case when (d_day_name = 'Tuesday') then ss_sales_price else null end), 2) as double) tue_sales,
       cast(round(sum(case when (d_day_name = 'Wednesday') then ss_sales_price else null end), 2) as double) wed_sales,
       cast(round(sum(case when (d_day_name = 'Thursday') then ss_sales_price else null end), 2) as double) thu_sales,
       cast(round(sum(case when (d_day_name = 'Friday') then ss_sales_price else null end), 2) as double) fri_sales,
       cast(round(sum(case when (d_day_name = 'Saturday') then ss_sales_price else null end), 2) as double) sat_sales
from date_dim, store_sales, store
where d_date_sk = ss_sold_date_sk
  and s_store_sk = ss_store_sk
  and s_gmt_offset = -5
  and d_year = 2000
group by s_store_name, s_store_id
order by s_store_name, s_store_id
limit 100
""",
    'TPC-DS spec q43 (per-store day-of-week sales pivot via d_day_name CASE sums; s_gmt_offset -5 live in the fixture).',
    tags=("q43",),
)

register_tpcds(
    "tpcds_q45_real",
    """
select ca_zip, ca_city,
       cast(round(sum(ws_sales_price), 2) as double) as sum_sales
from web_sales, customer, customer_address, date_dim, item
where ws_bill_customer_sk = c_customer_sk
  and c_current_addr_sk = ca_address_sk
  and ws_item_sk = i_item_sk
  and (substr(ca_zip, 1, 5) in ('85669','86197','88274','83405','86475',
                                '85392','85460','80348','81792')
       or i_item_id in (select i_item_id from item
                        where i_item_sk in (2, 3, 5, 7, 11, 13, 17, 19)))
  and ws_sold_date_sk = d_date_sk
  and d_qoy = 2 and d_year = 2001
group by ca_zip, ca_city
order by ca_zip, ca_city
limit 100
""",
    'TPC-DS spec q45 (web sales by zip/city where zip-prefix IN list OR item IN subquery — the OR-of-semi-join shape).',
    tags=("q45",),
)

register_tpcds(
    "tpcds_q46_real",
    """
select c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number,
       amt, profit
from (select ss_ticket_number, ss_customer_sk, ca_city bought_city,
             sum(ss_coupon_amt) amt, sum(ss_net_profit) profit
      from store_sales, date_dim, store, household_demographics,
           customer_address
      where ss_sold_date_sk = d_date_sk
        and ss_store_sk = s_store_sk
        and ss_hdemo_sk = hd_demo_sk
        and ss_addr_sk = ca_address_sk
        and (hd_dep_count = 4 or hd_vehicle_count = 3)
        and d_dow in (6, 0)
        and d_year in (2000, 2000 + 1, 2000 + 2)
        and s_city in ('Midway', 'Fairview')
      group by ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
     customer, customer_address current_addr
where ss_customer_sk = c_customer_sk
  and customer.c_current_addr_sk = current_addr.ca_address_sk
  and current_addr.ca_city <> bought_city
order by c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number
limit 100
""",
    'TPC-DS spec q46 (per-ticket coupon/profit for weekend dom shoppers in two cities, bought-city <> current-city anti-predicate through two customer_address roles; d_dow weekend in (6,0)).',
    tags=("q46",),
)

register_tpcds(
    "tpcds_q48_real",
    """
select cast(sum(ss_quantity) as bigint) as qty_sum
from store_sales, store, customer_demographics, customer_address, date_dim
where s_store_sk = ss_store_sk
  and ss_sold_date_sk = d_date_sk and d_year = 2000
  and ((cd_demo_sk = ss_cdemo_sk and cd_marital_status = 'M'
        and cd_education_status = 'College'
        and ss_sales_price between 10.00 and 150.00)
    or (cd_demo_sk = ss_cdemo_sk and cd_marital_status = 'S'
        and cd_education_status = 'High School'
        and ss_sales_price between 50.00 and 200.00)
    or (cd_demo_sk = ss_cdemo_sk and cd_marital_status = 'W'
        and cd_education_status = 'Primary'
        and ss_sales_price between 5.00 and 100.00))
  and ((ss_addr_sk = ca_address_sk and ca_country = 'United States'
        and ca_state in ('TX', 'OH', 'WA') and ss_net_profit between 0 and 50)
    or (ss_addr_sk = ca_address_sk and ca_country = 'United States'
        and ca_state in ('OR', 'NM', 'KY') and ss_net_profit between 10 and 60)
    or (ss_addr_sk = ca_address_sk and ca_country = 'United States'
        and ca_state in ('VA', 'CA', 'MS') and ss_net_profit between 20 and 70))
""",
    'TPC-DS spec q48 (single quantity sum through stacked demographic and address disjunctions; combos mapped to residue-compatible fixture values).',
    tags=("q48",),
)

register_tpcds(
    "tpcds_q50_real",
    """
select s_store_name, s_company_name,
       cast(sum(case when (sr_returned_date_sk - ss_sold_date_sk <= 30) then 1 else 0 end) as bigint) as days_30,
       cast(sum(case when (sr_returned_date_sk - ss_sold_date_sk > 30)
                      and (sr_returned_date_sk - ss_sold_date_sk <= 60) then 1 else 0 end) as bigint) as days_31_60,
       cast(sum(case when (sr_returned_date_sk - ss_sold_date_sk > 60)
                      and (sr_returned_date_sk - ss_sold_date_sk <= 90) then 1 else 0 end) as bigint) as days_61_90,
       cast(sum(case when (sr_returned_date_sk - ss_sold_date_sk > 90)
                      and (sr_returned_date_sk - ss_sold_date_sk <= 120) then 1 else 0 end) as bigint) as days_91_120,
       cast(sum(case when (sr_returned_date_sk - ss_sold_date_sk > 120) then 1 else 0 end) as bigint) as days_over_120
from store_sales, store_returns, store, date_dim d1, date_dim d2
where d2.d_year = 2001 and d2.d_moy = 8
  and ss_ticket_number = sr_ticket_number
  and ss_item_sk = sr_item_sk
  and ss_sold_date_sk = d1.d_date_sk
  and sr_returned_date_sk = d2.d_date_sk
  and ss_customer_sk = sr_customer_sk
  and ss_store_sk = s_store_sk
group by s_store_name, s_company_name
order by s_store_name, s_company_name
limit 100
""",
    "TPC-DS spec q50 (store return latency buckets: sold-vs-returned date_sk deltas bucketed 30/60/90/120, one returned-month slice; store output columns reduced to the fixture's name/company subset).",
    tags=("q50",),
)

register_tpcds(
    "tpcds_q51_real",
    """
with web_v1 as (
  select ws_item_sk item_sk, d_date,
         sum(sum(ws_sales_price)) over (partition by ws_item_sk
                                        order by d_date
                                        rows between unbounded preceding
                                        and current row) cume_sales
  from web_sales, date_dim
  where ws_sold_date_sk = d_date_sk
    and d_month_seq between 1200 and 1200 + 11
    and ws_item_sk is not null
  group by ws_item_sk, d_date),
store_v1 as (
  select ss_item_sk item_sk, d_date,
         sum(sum(ss_sales_price)) over (partition by ss_item_sk
                                        order by d_date
                                        rows between unbounded preceding
                                        and current row) cume_sales
  from store_sales, date_dim
  where ss_sold_date_sk = d_date_sk
    and d_month_seq between 1200 and 1200 + 11
    and ss_item_sk is not null
  group by ss_item_sk, d_date)
select item_sk, d_date, web_sales, store_sales, web_cumulative, store_cumulative
from (select case when web.item_sk is not null then web.item_sk
                  else store.item_sk end item_sk,
             case when web.d_date is not null then web.d_date
                  else store.d_date end d_date,
             web.cume_sales web_sales,
             store.cume_sales store_sales,
             max(web.cume_sales) over (partition by case when web.item_sk is not null
                                                         then web.item_sk
                                                         else store.item_sk end
                                       order by case when web.d_date is not null
                                                     then web.d_date
                                                     else store.d_date end
                                       rows between unbounded preceding
                                       and current row) web_cumulative,
             max(store.cume_sales) over (partition by case when web.item_sk is not null
                                                           then web.item_sk
                                                           else store.item_sk end
                                         order by case when web.d_date is not null
                                                       then web.d_date
                                                       else store.d_date end
                                         rows between unbounded preceding
                                         and current row) store_cumulative
      from web_v1 web full outer join store_v1 store
           on (web.item_sk = store.item_sk and web.d_date = store.d_date)) x
where web_cumulative > store_cumulative
order by item_sk, d_date
limit 100
""",
    'TPC-DS spec q51 (web/store per-item cumulative sales via sum(sum()) OVER, FULL OUTER JOIN on item+date, running MAX windows over the coalesced key, web>store filter — the heaviest window composition in the suite).',
    tags=("q51",),
)

register_tpcds(
    "tpcds_q53_real",
    """
select i_manufact_id,
       sum(ss_sales_price) sum_sales,
       cast(round(avg(sum(ss_sales_price))
         over (partition by i_manufact_id), 6) as double) avg_quarterly_sales
from item, store_sales, date_dim, store
where ss_item_sk = i_item_sk
  and ss_sold_date_sk = d_date_sk
  and ss_store_sk = s_store_sk
  and d_month_seq in (1200, 1200+1, 1200+2, 1200+3, 1200+4, 1200+5,
                      1200+6, 1200+7, 1200+8, 1200+9, 1200+10, 1200+11)
  and ((i_category in ('Category_0', 'Category_1') and i_class_id in (1, 2))
    or (i_category in ('Category_2') and i_class_id in (3, 4)))
group by i_manufact_id, d_qoy
order by avg_quarterly_sales, sum_sales, i_manufact_id
limit 100
""",
    'TPC-DS spec q53 (quarterly manufacturer sales vs windowed average — the q63 family; category/class pairs mapped to fixture ids).',
    tags=("q53",),
)

register_tpcds(
    "tpcds_q62_real",
    """
select w_warehouse_name, sm_type, web_name,
       cast(sum(case when (ws_ship_date_sk - ws_sold_date_sk <= 30) then 1 else 0 end) as bigint) as days_30,
       cast(sum(case when (ws_ship_date_sk - ws_sold_date_sk > 30)
                      and (ws_ship_date_sk - ws_sold_date_sk <= 60) then 1 else 0 end) as bigint) as days_31_60,
       cast(sum(case when (ws_ship_date_sk - ws_sold_date_sk > 60)
                      and (ws_ship_date_sk - ws_sold_date_sk <= 90) then 1 else 0 end) as bigint) as days_61_90,
       cast(sum(case when (ws_ship_date_sk - ws_sold_date_sk > 90)
                      and (ws_ship_date_sk - ws_sold_date_sk <= 120) then 1 else 0 end) as bigint) as days_91_120,
       cast(sum(case when (ws_ship_date_sk - ws_sold_date_sk > 120) then 1 else 0 end) as bigint) as days_over_120
from web_sales, warehouse, ship_mode, web_site, date_dim
where d_month_seq between 1200 and 1200 + 11
  and ws_ship_date_sk = d_date_sk
  and ws_warehouse_sk = w_warehouse_sk
  and ws_ship_mode_sk = sm_ship_mode_sk
  and ws_web_site_sk = web_site_sk
group by w_warehouse_name, sm_type, web_name
order by w_warehouse_name, sm_type, web_name
limit 100
""",
    'TPC-DS spec q62 (web shipping latency buckets by warehouse x ship mode x site over a 12-month ship window).',
    tags=("q62",),
)

register_tpcds(
    "tpcds_q65_real",
    """
select s_store_name, i_item_desc, sc.revenue, i_current_price,
       i_wholesale_cost, i_brand
from store, item,
     (select ss_store_sk, avg(revenue) as ave
      from (select ss_store_sk, ss_item_sk,
                   sum(ss_sales_price) as revenue
            from store_sales, date_dim
            where ss_sold_date_sk = d_date_sk
              and d_month_seq between 1200 and 1200 + 11
            group by ss_store_sk, ss_item_sk) sa
      group by ss_store_sk) sb,
     (select ss_store_sk, ss_item_sk,
             sum(ss_sales_price) as revenue
      from store_sales, date_dim
      where ss_sold_date_sk = d_date_sk
        and d_month_seq between 1200 and 1200 + 11
      group by ss_store_sk, ss_item_sk) sc
where sb.ss_store_sk = sc.ss_store_sk
  and sc.revenue <= 0.9 * sb.ave
  and s_store_sk = sc.ss_store_sk
  and i_item_sk = sc.ss_item_sk
order by s_store_name, i_item_desc, sc.revenue
limit 100
""",
    "TPC-DS spec q65 (items selling at <= 0.9x their store's average item revenue: two derived aggregates joined store-wise; spec's 0.1 threshold selects nothing under the fixture's near-uniform revenues — noted).",
    tags=("q65",),
)

register_tpcds(
    "tpcds_q71_real",
    """
select i_brand_id brand_id, i_brand brand, t_hour, t_minute,
       cast(round(sum(ext_price), 2) as double) ext_price
from item,
     (select ws_ext_sales_price as ext_price,
             ws_sold_date_sk as sold_date_sk,
             ws_item_sk as sold_item_sk,
             ws_sold_time_sk as time_sk
      from web_sales, date_dim
      where d_date_sk = ws_sold_date_sk and d_moy = 11 and d_year = 2000
      union all
      select cs_ext_sales_price as ext_price,
             cs_sold_date_sk as sold_date_sk,
             cs_item_sk as sold_item_sk,
             cs_sold_time_sk as time_sk
      from catalog_sales, date_dim
      where d_date_sk = cs_sold_date_sk and d_moy = 11 and d_year = 2000
      union all
      select ss_ext_sales_price as ext_price,
             ss_sold_date_sk as sold_date_sk,
             ss_item_sk as sold_item_sk,
             ss_sold_time_sk as time_sk
      from store_sales, date_dim
      where d_date_sk = ss_sold_date_sk and d_moy = 11 and d_year = 2000) tmp,
     time_dim
where sold_item_sk = i_item_sk
  and i_manager_id = 1
  and time_sk = t_time_sk
  and (t_meal_time = 'breakfast' or t_meal_time = 'dinner')
group by i_brand, i_brand_id, t_hour, t_minute
order by ext_price desc, i_brand_id, t_hour, t_minute
limit 100
""",
    "TPC-DS spec q71 (brand revenue by breakfast/dinner half-hours: three-channel UNION ALL joined to time_dim's meal-time bands).",
    tags=("q71",),
)

register_tpcds(
    "tpcds_q73_real",
    """
select c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
       ss_ticket_number, cnt
from (select ss_ticket_number, ss_customer_sk, count(*) cnt
      from store_sales, date_dim, store, household_demographics
      where store_sales.ss_sold_date_sk = date_dim.d_date_sk
        and store_sales.ss_store_sk = store.s_store_sk
        and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
        and date_dim.d_dom between 1 and 2
        and (household_demographics.hd_buy_potential = '>10000'
             or household_demographics.hd_buy_potential = '5001-10000')
        and household_demographics.hd_vehicle_count > 0
        and date_dim.d_year in (2000, 2000 + 1, 2000 + 2)
        and store.s_county in ('County_0', 'County_1')
      group by ss_ticket_number, ss_customer_sk) dj, customer
where ss_customer_sk = c_customer_sk
  and cnt between 1 and 5
order by cnt desc, c_last_name asc, ss_ticket_number
limit 100
""",
    "TPC-DS spec q73 (per-ticket item counts 1..5 for high-buy-potential households on dom 1-2; counties mapped to the fixture's County_0/1).",
    tags=("q73",),
)

register_tpcds(
    "tpcds_q79_real",
    """
select c_last_name, c_first_name,
       substr(s_city, 1, 30) s_city_pfx, ss_ticket_number, amt, profit
from (select ss_ticket_number, ss_customer_sk, store.s_city,
             sum(ss_coupon_amt) amt, sum(ss_net_profit) profit
      from store_sales, date_dim, store, household_demographics
      where store_sales.ss_sold_date_sk = date_dim.d_date_sk
        and store_sales.ss_store_sk = store.s_store_sk
        and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
        and (household_demographics.hd_dep_count = 4
             or household_demographics.hd_vehicle_count > 3)
        and date_dim.d_dow = 1
        and date_dim.d_year in (2000, 2000 + 1, 2000 + 2)
        and store.s_number_employees between 200 and 295
      group by ss_ticket_number, ss_customer_sk, ss_addr_sk,
               store.s_city) ms, customer
where ss_customer_sk = c_customer_sk
order by c_last_name, c_first_name, s_city_pfx, profit, ss_ticket_number
limit 100
""",
    'TPC-DS spec q79 (Monday shoppers per ticket with dep/vehicle household filter and store employee band; store city prefix output).',
    tags=("q79",),
)

register_tpcds(
    "tpcds_q82_real",
    """
select i_item_id, i_item_desc, i_current_price
from item, inventory, date_dim, store_sales
where i_current_price between 10 and 10 + 30
  and inv_item_sk = i_item_sk
  and d_date_sk = inv_date_sk
  and d_date between cast('2000-02-01' as date) and (cast('2000-02-01' as date) + 60)
  and i_manufact_id in (101, 102, 103, 104)
  and inv_quantity_on_hand between 100 and 500
  and ss_item_sk = i_item_sk
group by i_item_id, i_item_desc, i_current_price
order by i_item_id
limit 100
""",
    'TPC-DS spec q82 (store twin of q37: item/inventory/date band join gated by store_sales existence).',
    tags=("q82",),
)

register_tpcds(
    "tpcds_q86_real",
    """
select cast(round(sum(ws_net_profit), 2) as double) as total_sum,
       i_category, i_class,
       cast(grouping(i_category) + grouping(i_class) as int) as lochierarchy,
       rank() over (
         partition by grouping(i_category) + grouping(i_class),
         case when grouping(i_class) = 0 then i_category end
         order by sum(ws_net_profit) desc) as rank_within_parent
from web_sales, date_dim d1, item
where d1.d_month_seq between 1200 and 1200 + 11
  and d1.d_date_sk = ws_sold_date_sk
  and i_item_sk = ws_item_sk
group by rollup(i_category, i_class)
order by lochierarchy desc,
         case when grouping(i_category) + grouping(i_class) = 0 then i_category end,
         rank_within_parent, i_category, i_class
limit 100
""",
    'TPC-DS spec q86 (web net-profit rollup with grouping() lochierarchy + rank within parent — the q36 web twin).',
    tags=("q86",),
)

register_tpcds(
    "tpcds_q87_real",
    """
select count(*) as cnt
from ((select distinct c_last_name, c_first_name, d_date
       from store_sales, date_dim, customer
       where store_sales.ss_sold_date_sk = date_dim.d_date_sk
         and store_sales.ss_customer_sk = customer.c_customer_sk
         and d_month_seq between 1188 and 1188 + 11)
      except
      (select distinct c_last_name, c_first_name, d_date
       from catalog_sales, date_dim, customer
       where catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
         and catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
         and d_month_seq between 1188 and 1188 + 11)
      except
      (select distinct c_last_name, c_first_name, d_date
       from web_sales, date_dim, customer
       where web_sales.ws_sold_date_sk = date_dim.d_date_sk
         and web_sales.ws_bill_customer_sk = customer.c_customer_sk
         and d_month_seq between 1188 and 1188 + 11)) cool_cust
""",
    "TPC-DS spec q87 (three-channel EXCEPT chain of distinct customer-date tuples; the fixture's full channel overlap makes the true answer 0 on both engines).",
    tags=("q87",),
)

register_tpcds(
    "tpcds_q88_real",
    """
select *
from (select count(*) h8_30_to_9
      from store_sales, household_demographics, time_dim, store
      where ss_sold_time_sk = time_dim.t_time_sk
        and ss_hdemo_sk = household_demographics.hd_demo_sk
        and ss_store_sk = s_store_sk
        and time_dim.t_hour = 8 and time_dim.t_minute >= 30
        and ((household_demographics.hd_dep_count = 4 and household_demographics.hd_vehicle_count <= 4 + 2)
          or (household_demographics.hd_dep_count = 2 and household_demographics.hd_vehicle_count <= 2 + 2)
          or (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count <= 0 + 2))
        and store.s_store_name = 'Store_2') s1,
     (select count(*) h9_to_9_30
      from store_sales, household_demographics, time_dim, store
      where ss_sold_time_sk = time_dim.t_time_sk
        and ss_hdemo_sk = household_demographics.hd_demo_sk
        and ss_store_sk = s_store_sk
        and time_dim.t_hour = 9 and time_dim.t_minute < 30
        and ((household_demographics.hd_dep_count = 4 and household_demographics.hd_vehicle_count <= 4 + 2)
          or (household_demographics.hd_dep_count = 2 and household_demographics.hd_vehicle_count <= 2 + 2)
          or (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count <= 0 + 2))
        and store.s_store_name = 'Store_2') s2,
     (select count(*) h9_30_to_10
      from store_sales, household_demographics, time_dim, store
      where ss_sold_time_sk = time_dim.t_time_sk
        and ss_hdemo_sk = household_demographics.hd_demo_sk
        and ss_store_sk = s_store_sk
        and time_dim.t_hour = 9 and time_dim.t_minute >= 30
        and ((household_demographics.hd_dep_count = 4 and household_demographics.hd_vehicle_count <= 4 + 2)
          or (household_demographics.hd_dep_count = 2 and household_demographics.hd_vehicle_count <= 2 + 2)
          or (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count <= 0 + 2))
        and store.s_store_name = 'Store_2') s3,
     (select count(*) h10_to_10_30
      from store_sales, household_demographics, time_dim, store
      where ss_sold_time_sk = time_dim.t_time_sk
        and ss_hdemo_sk = household_demographics.hd_demo_sk
        and ss_store_sk = s_store_sk
        and time_dim.t_hour = 10 and time_dim.t_minute < 30
        and ((household_demographics.hd_dep_count = 4 and household_demographics.hd_vehicle_count <= 4 + 2)
          or (household_demographics.hd_dep_count = 2 and household_demographics.hd_vehicle_count <= 2 + 2)
          or (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count <= 0 + 2))
        and store.s_store_name = 'Store_2') s4
""",
    'TPC-DS spec q88 (time-slot census: four scalar-count subqueries cross-joined into one row; 8:30-10:30 half-hours, dep/vehicle disjunctions, one store).',
    tags=("q88",),
)

register_tpcds(
    "tpcds_q92_real",
    """
select cast(round(sum(ws_ext_discount_amt), 2) as double) as excess_discount_amount
from web_sales, item, date_dim
where i_manufact_id = 103
  and i_item_sk = ws_item_sk
  and d_date between cast('2000-02-01' as date) and (cast('2000-02-01' as date) + 90)
  and d_date_sk = ws_sold_date_sk
  and ws_ext_discount_amt > (select 1.3 * avg(ws_ext_discount_amt)
                             from web_sales, date_dim
                             where ws_item_sk = i_item_sk
                               and d_date between cast('2000-02-01' as date)
                                              and (cast('2000-02-01' as date) + 90)
                               and d_date_sk = ws_sold_date_sk)
order by excess_discount_amount
limit 100
""",
    'TPC-DS spec q92 (web excess discount — the q32 web twin with ORDER BY over the single aggregate).',
    tags=("q92",),
)

register_tpcds(
    "tpcds_q93_real",
    """
select ss_customer_sk,
       cast(round(sum(act_sales), 2) as double) sumsales
from (select ss_item_sk, ss_ticket_number, ss_customer_sk,
             case when sr_return_quantity is not null
                  then (ss_quantity - sr_return_quantity) * ss_sales_price
                  else ss_quantity * ss_sales_price end act_sales
      from store_sales
      left outer join store_returns
        on (sr_item_sk = ss_item_sk and sr_ticket_number = ss_ticket_number),
           reason
      where sr_reason_sk = r_reason_sk and r_reason_desc = 'reason 3') t
group by ss_customer_sk
order by sumsales, ss_customer_sk
limit 100
""",
    'TPC-DS spec q93 (actual sales net of returned quantity through a LEFT JOIN against store_returns and a reason filter).',
    tags=("q93",),
)

register_tpcds(
    "tpcds_q94_real",
    """
select count(distinct ws_order_number) as order_count,
       cast(round(sum(ws_ext_ship_cost), 2) as double) as total_shipping_cost,
       cast(round(sum(ws_net_profit), 2) as double) as total_net_profit
from web_sales ws1, date_dim, customer_address, web_site
where d_date between cast('2000-02-01' as date) and (cast('2000-02-01' as date) + 60)
  and ws1.ws_ship_date_sk = d_date_sk
  and ws1.ws_ship_addr_sk = ca_address_sk
  and ca_state = 'WA'
  and ws1.ws_web_site_sk = web_site_sk
  and web_company_name = 'pri'
  and exists (select * from web_sales ws2
              where ws1.ws_order_number = ws2.ws_order_number
                and ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
  and not exists (select * from web_returns wr1
                  where ws1.ws_order_number = wr1.wr_order_number)
order by count(distinct ws_order_number)
limit 100
""",
    'TPC-DS spec q94 (ship-window orders from multi-warehouse fulfilment with NO return: EXISTS self-join + NOT EXISTS web_returns — the anti twin of q95; state/site parameters mapped to the fixture slice that has a live non-returned order).',
    tags=("q94",),
)

register_tpcds(
    "tpcds_q97_real",
    """
with ssci as (
  select ss_customer_sk customer_sk, ss_item_sk item_sk
  from store_sales, date_dim
  where ss_sold_date_sk = d_date_sk
    and d_month_seq between 1200 and 1200 + 11
  group by ss_customer_sk, ss_item_sk),
csci as (
  select cs_bill_customer_sk customer_sk, cs_item_sk item_sk
  from catalog_sales, date_dim
  where cs_sold_date_sk = d_date_sk
    and d_month_seq between 1200 and 1200 + 11
  group by cs_bill_customer_sk, cs_item_sk)
select cast(sum(case when ssci.customer_sk is not null and csci.customer_sk is null then 1 else 0 end) as bigint) store_only,
       cast(sum(case when ssci.customer_sk is null and csci.customer_sk is not null then 1 else 0 end) as bigint) catalog_only,
       cast(sum(case when ssci.customer_sk is not null and csci.customer_sk is not null then 1 else 0 end) as bigint) store_and_catalog
from ssci full outer join csci
  on (ssci.customer_sk = csci.customer_sk and ssci.item_sk = csci.item_sk)
limit 100
""",
    'TPC-DS spec q97 (store/catalog customer-item overlap counts via FULL OUTER JOIN of two grouped CTEs).',
    tags=("q97",),
)

register_tpcds(
    "tpcds_q99_real",
    """
select w_warehouse_name, sm_type, cc_name,
       cast(sum(case when (cs_ship_date_sk - cs_sold_date_sk <= 30) then 1 else 0 end) as bigint) as days_30,
       cast(sum(case when (cs_ship_date_sk - cs_sold_date_sk > 30)
                      and (cs_ship_date_sk - cs_sold_date_sk <= 60) then 1 else 0 end) as bigint) as days_31_60,
       cast(sum(case when (cs_ship_date_sk - cs_sold_date_sk > 60)
                      and (cs_ship_date_sk - cs_sold_date_sk <= 90) then 1 else 0 end) as bigint) as days_61_90,
       cast(sum(case when (cs_ship_date_sk - cs_sold_date_sk > 90)
                      and (cs_ship_date_sk - cs_sold_date_sk <= 120) then 1 else 0 end) as bigint) as days_91_120,
       cast(sum(case when (cs_ship_date_sk - cs_sold_date_sk > 120) then 1 else 0 end) as bigint) as days_over_120
from catalog_sales, warehouse, ship_mode, call_center, date_dim
where d_month_seq between 1200 and 1200 + 11
  and cs_ship_date_sk = d_date_sk
  and cs_warehouse_sk = w_warehouse_sk
  and cs_ship_mode_sk = sm_ship_mode_sk
  and cs_call_center_sk = cc_call_center_sk
group by w_warehouse_name, sm_type, cc_name
order by w_warehouse_name, sm_type, cc_name
limit 100
""",
    'TPC-DS spec q99 (catalog shipping latency buckets by warehouse x ship mode x call center — the q62 catalog twin).',
    tags=("q99",),
)


# ---------------------------------------------------------------------------
# Round 9, tranche 3: 10 more spec texts (70 real TPC-DS queries total)
# ---------------------------------------------------------------------------

register_tpcds(
    "tpcds_q16_real",
    """
select count(distinct cs_order_number) as order_count,
       cast(round(sum(cs_ext_ship_cost), 2) as double) as total_shipping_cost,
       cast(round(sum(cs_net_profit), 2) as double) as total_net_profit
from catalog_sales cs1, date_dim, customer_address, call_center
where d_date between cast('2000-02-01' as date) and (cast('2000-02-01' as date) + 60)
  and cs1.cs_ship_date_sk = d_date_sk
  and cs1.cs_ship_addr_sk = ca_address_sk
  and ca_state = 'TX'
  and cs1.cs_call_center_sk = cc_call_center_sk
  and cc_county in ('County_0', 'County_1')
  and exists (select * from catalog_sales cs2
              where cs1.cs_order_number = cs2.cs_order_number
                and cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
  and not exists (select * from catalog_returns cr1
                  where cs1.cs_order_number = cr1.cr_order_number)
order by count(distinct cs_order_number)
limit 100
""",
    "TPC-DS spec q16 (catalog orders from multi-warehouse fulfilment with no return: EXISTS self-join + NOT EXISTS catalog_returns — the catalog twin of q94; the fixture's catalog orders are two-line so the warehouse-mismatch EXISTS is live).",
    tags=("q16",),
)

register_tpcds(
    "tpcds_q17_real",
    """
select i_item_id, i_item_desc, s_state,
       count(ss_quantity) as store_sales_quantitycount,
       cast(round(avg(ss_quantity), 4) as double) as store_sales_quantityave,
       cast(round(stddev_samp(ss_quantity), 4) as double) as store_sales_quantitystdev,
       count(sr_return_quantity) as store_returns_quantitycount,
       cast(round(avg(sr_return_quantity), 4) as double) as store_returns_quantityave,
       count(cs_quantity) as catalog_sales_quantitycount,
       cast(round(avg(cs_quantity), 4) as double) as catalog_sales_quantityave
from store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2,
     date_dim d3, store, item
where d1.d_qoy = 2
  and d1.d_year = 2001
  and d1.d_date_sk = ss_sold_date_sk
  and i_item_sk = ss_item_sk
  and s_store_sk = ss_store_sk
  and ss_customer_sk = sr_customer_sk
  and ss_item_sk = sr_item_sk
  and ss_ticket_number = sr_ticket_number
  and sr_returned_date_sk = d2.d_date_sk
  and d2.d_qoy between 2 and 4
  and d2.d_year = 2001
  and sr_customer_sk = cs_bill_customer_sk
  and sr_item_sk = cs_item_sk
  and cs_sold_date_sk = d3.d_date_sk
  and d3.d_qoy between 2 and 4
  and d3.d_year = 2001
group by i_item_id, i_item_desc, s_state
order by i_item_id, i_item_desc, s_state
limit 100
""",
    'TPC-DS spec q17 (store sale -> same-quarter return -> catalog re-purchase with count/avg/stddev_samp stats per item/state; stddev rounded at 4 digits on both engines).',
    tags=("q17",),
)

register_tpcds(
    "tpcds_q28_real",
    """
select *
from (select cast(round(avg(ss_list_price), 2) as double) b1_lp,
             count(ss_list_price) b1_cnt,
             count(distinct ss_list_price) b1_cntd
      from store_sales
      where ss_quantity between 1 and 2
        and (ss_list_price between 20 and 20 + 10
             or ss_coupon_amt between 5 and 5 + 10
             or ss_wholesale_cost between 30 and 30 + 20)) b1,
     (select cast(round(avg(ss_list_price), 2) as double) b2_lp,
             count(ss_list_price) b2_cnt,
             count(distinct ss_list_price) b2_cntd
      from store_sales
      where ss_quantity between 3 and 4
        and (ss_list_price between 30 and 30 + 10
             or ss_coupon_amt between 10 and 10 + 10
             or ss_wholesale_cost between 40 and 40 + 20)) b2,
     (select cast(round(avg(ss_list_price), 2) as double) b3_lp,
             count(ss_list_price) b3_cnt,
             count(distinct ss_list_price) b3_cntd
      from store_sales
      where ss_quantity between 5 and 6
        and (ss_list_price between 40 and 40 + 10
             or ss_coupon_amt between 15 and 15 + 10
             or ss_wholesale_cost between 50 and 50 + 20)) b3,
     (select cast(round(avg(ss_list_price), 2) as double) b4_lp,
             count(ss_list_price) b4_cnt,
             count(distinct ss_list_price) b4_cntd
      from store_sales
      where ss_quantity between 7 and 8
        and (ss_list_price between 50 and 50 + 10
             or ss_coupon_amt between 20 and 20 + 10
             or ss_wholesale_cost between 60 and 60 + 20)) b4
limit 100
""",
    "TPC-DS spec q28 (four price-band buckets of avg/count/count-distinct list price cross-joined into one row; band constants mapped to the fixture's value ranges, six buckets reduced to four live ones).",
    tags=("q28",),
)

register_tpcds(
    "tpcds_q30_real",
    """
with customer_total_return as (
 select wr_returning_customer_sk as ctr_customer_sk,
        ca_state as ctr_state,
        sum(wr_return_amt) as ctr_total_return
 from web_returns, date_dim, customer_address, customer
 where wr_returned_date_sk = d_date_sk and d_year = 2000
   and wr_returning_customer_sk = c_customer_sk
   and c_current_addr_sk = ca_address_sk
 group by wr_returning_customer_sk, ca_state)
select c_customer_id, c_salutation, c_first_name, c_last_name,
       c_preferred_cust_flag, c_birth_month, c_birth_year,
       cast(round(ctr_total_return, 2) as double) as ctr_total_return
from customer_total_return ctr1, customer
where ctr1.ctr_total_return > (select avg(ctr_total_return) * 1.2
                               from customer_total_return ctr2
                               where ctr1.ctr_state = ctr2.ctr_state)
  and ctr1.ctr_customer_sk = c_customer_sk
order by c_customer_id, c_salutation, c_first_name, c_last_name,
         c_preferred_cust_flag, c_birth_month, c_birth_year,
         ctr_total_return
limit 100
""",
    'TPC-DS spec q30 (web returns above 1.2x the per-state average: CTE reused by outer query and correlated AVG subquery — the q1/q81 family over web_returns).',
    tags=("q30",),
)

register_tpcds(
    "tpcds_q33_real",
    """
with ss as (
 select i_manufact_id,
        sum(ss_ext_sales_price) total_sales
 from store_sales, date_dim, customer_address, item
 where i_manufact_id in (select i_manufact_id from item
                         where i_category in ('Category_1'))
   and ss_item_sk = i_item_sk
   and ss_sold_date_sk = d_date_sk
   and d_year = 2000 and d_moy = 11
   and ss_addr_sk = ca_address_sk
   and ca_gmt_offset = -5
 group by i_manufact_id),
cs as (
 select i_manufact_id,
        sum(cs_ext_sales_price) total_sales
 from catalog_sales, date_dim, customer_address, item
 where i_manufact_id in (select i_manufact_id from item
                         where i_category in ('Category_1'))
   and cs_item_sk = i_item_sk
   and cs_sold_date_sk = d_date_sk
   and d_year = 2000 and d_moy = 11
   and cs_bill_addr_sk = ca_address_sk
   and ca_gmt_offset = -5
 group by i_manufact_id),
ws as (
 select i_manufact_id,
        sum(ws_ext_sales_price) total_sales
 from web_sales, date_dim, customer_address, item
 where i_manufact_id in (select i_manufact_id from item
                         where i_category in ('Category_1'))
   and ws_item_sk = i_item_sk
   and ws_sold_date_sk = d_date_sk
   and d_year = 2000 and d_moy = 11
   and ws_bill_addr_sk = ca_address_sk
   and ca_gmt_offset = -5
 group by i_manufact_id)
select i_manufact_id,
       cast(round(sum(total_sales), 2) as double) total_sales
from (select * from ss
      union all
      select * from cs
      union all
      select * from ws) tmp1
group by i_manufact_id
order by total_sales, i_manufact_id
limit 100
""",
    'TPC-DS spec q33 (per-manufacturer sales summed across three channel CTEs gated by a category IN-subquery and gmt offset; category mapped to Category_1).',
    tags=("q33",),
)

register_tpcds(
    "tpcds_q34_real",
    """
select c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
       ss_ticket_number, cnt
from (select ss_ticket_number, ss_customer_sk, count(*) cnt
      from store_sales, date_dim, store, household_demographics
      where store_sales.ss_sold_date_sk = date_dim.d_date_sk
        and store_sales.ss_store_sk = store.s_store_sk
        and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
        and (date_dim.d_dom between 1 and 3 or date_dim.d_dom between 25 and 28)
        and (household_demographics.hd_buy_potential = '>10000'
             or household_demographics.hd_buy_potential = '5001-10000')
        and household_demographics.hd_vehicle_count > 0
        and (case when household_demographics.hd_vehicle_count > 0
                  then cast(household_demographics.hd_dep_count as double)
                       / household_demographics.hd_vehicle_count
                  else null end) > 1.2
        and date_dim.d_year in (2000, 2000 + 1, 2000 + 2)
        and store.s_county in ('County_0', 'County_1')
      group by ss_ticket_number, ss_customer_sk) dn, customer
where ss_customer_sk = c_customer_sk
  and cnt between 1 and 20
order by c_last_name, c_first_name, c_salutation, c_preferred_cust_flag desc,
         ss_ticket_number
limit 100
""",
    'TPC-DS spec q34 (per-ticket item counts for high-buy-potential households on dom 1-3/25-28 with a dep/vehicle ratio filter; counties mapped to the fixture).',
    tags=("q34",),
)

register_tpcds(
    "tpcds_q41_real",
    """
select distinct(i_product_name) as i_product_name
from item i1
where i_manufact_id between 100 and 100 + 40
  and (select count(*) as item_cnt
       from item
       where (i_manufact = i1.i_manufact
              and ((i_category = 'Category_0' and i_class in ('Class_0', 'Class_1'))
                or (i_category = 'Category_1' and i_class in ('Class_2', 'Class_3'))))
          or (i_manufact = i1.i_manufact
              and ((i_category = 'Category_2' and i_class in ('Class_0', 'Class_2'))
                or (i_category = 'Category_0' and i_class in ('Class_3'))))) > 0
order by i_product_name
limit 100
""",
    "TPC-DS spec q41 (distinct product names whose manufacturer has items matching nested category/class disjunctions — correlated COUNT over the same dimension table; color/units/size conjuncts mapped to the fixture's category/class space).",
    tags=("q41",),
)

register_tpcds(
    "tpcds_q74_real",
    """
with year_total as (
 select c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name, d_year as year_,
        sum(ss_net_paid) year_total, 's' sale_type
 from customer, store_sales, date_dim
 where c_customer_sk = ss_customer_sk
   and ss_sold_date_sk = d_date_sk
   and d_year in (2001, 2001 + 1)
 group by c_customer_id, c_first_name, c_last_name, d_year
 union all
 select c_customer_id customer_id, c_first_name customer_first_name,
        c_last_name customer_last_name, d_year as year_,
        sum(ws_net_paid) year_total, 'w' sale_type
 from customer, web_sales, date_dim
 where c_customer_sk = ws_bill_customer_sk
   and ws_sold_date_sk = d_date_sk
   and d_year in (2001, 2001 + 1)
 group by c_customer_id, c_first_name, c_last_name, d_year)
select t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name
from year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
where t_s_secyear.customer_id = t_s_firstyear.customer_id
  and t_s_firstyear.customer_id = t_w_secyear.customer_id
  and t_s_firstyear.customer_id = t_w_firstyear.customer_id
  and t_s_firstyear.sale_type = 's'
  and t_w_firstyear.sale_type = 'w'
  and t_s_secyear.sale_type = 's'
  and t_w_secyear.sale_type = 'w'
  and t_s_firstyear.year_ = 2001
  and t_s_secyear.year_ = 2001 + 1
  and t_w_firstyear.year_ = 2001
  and t_w_secyear.year_ = 2001 + 1
  and t_s_firstyear.year_total > 0
  and t_w_firstyear.year_total > 0
  and case when t_w_firstyear.year_total > 0
           then t_w_secyear.year_total / t_w_firstyear.year_total
           else null end
      > case when t_s_firstyear.year_total > 0
             then t_s_secyear.year_total / t_s_firstyear.year_total
             else null end
order by 1, 2, 3
limit 100
""",
    'TPC-DS spec q74 (two-channel year-over-year net-paid ratio self-join — the q4/q11 family over ss/ws_net_paid; year column aliased year_ since YEAR is reserved on Spark).',
    tags=("q74",),
    materialize_cte=True,
)

register_tpcds(
    "tpcds_q81_real",
    """
with customer_total_return as (
 select cr_returning_customer_sk as ctr_customer_sk,
        ca_state as ctr_state,
        sum(cr_return_amt_inc_tax) as ctr_total_return
 from catalog_returns, date_dim, customer_address, customer
 where cr_returned_date_sk = d_date_sk and d_year = 2000
   and cr_returning_customer_sk = c_customer_sk
   and c_current_addr_sk = ca_address_sk
 group by cr_returning_customer_sk, ca_state)
select c_customer_id, c_salutation, c_first_name, c_last_name,
       ca_state, ca_zip, ca_country,
       cast(round(ctr_total_return, 2) as double) as ctr_total_return
from customer_total_return ctr1, customer_address, customer
where ctr1.ctr_total_return > (select avg(ctr_total_return) * 1.2
                               from customer_total_return ctr2
                               where ctr1.ctr_state = ctr2.ctr_state)
  and ca_address_sk = c_current_addr_sk
  and ctr1.ctr_customer_sk = c_customer_sk
order by c_customer_id, c_salutation, c_first_name, c_last_name,
         ca_state, ca_zip, ca_country, ctr_total_return
limit 100
""",
    'TPC-DS spec q81 (catalog returns above 1.2x the per-state average, output joined back through customer_address — the q30 catalog twin).',
    tags=("q81",),
)

register_tpcds(
    "tpcds_q89_real",
    """
select *
from (select i_category, i_class, i_brand, s_store_name, s_company_name,
             d_moy, sum(ss_sales_price) sum_sales,
             avg(sum(ss_sales_price)) over (partition by i_category, i_brand,
                                            s_store_name, s_company_name)
               avg_monthly_sales
      from item, store_sales, date_dim, store
      where ss_item_sk = i_item_sk
        and ss_sold_date_sk = d_date_sk
        and ss_store_sk = s_store_sk
        and d_year in (2000)
        and ((i_category in ('Category_0', 'Category_1')
              and i_class in ('Class_0', 'Class_1'))
          or (i_category in ('Category_2')
              and i_class in ('Class_2', 'Class_3')))
      group by i_category, i_class, i_brand, s_store_name, s_company_name,
               d_moy) tmp1
where case when (avg_monthly_sales <> 0)
           then (abs(sum_sales - avg_monthly_sales) / avg_monthly_sales)
           else null end > 0.1
order by sum_sales - avg_monthly_sales, i_category, i_class, i_brand,
         s_store_name, s_company_name, d_moy
limit 100
""",
    "TPC-DS spec q89 (monthly class sales vs category/brand/store average via avg(sum()) OVER, 10% deviation filter; ORDER BY extended with the full group key after the spec's float delta so the LIMIT is deterministic).",
    tags=("q89",),
)
