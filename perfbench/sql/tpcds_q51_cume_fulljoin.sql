WITH web_v1 AS (
  SELECT l_partkey AS item_sk, date_trunc('month',  l_shipdate ) AS d_month,
    sum(sum(l_quantity)) OVER (PARTITION BY l_partkey
      ORDER BY date_trunc('month',  l_shipdate )
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume_sales
  FROM lineitem WHERE l_linenumber % 3 = 2
  GROUP BY l_partkey, date_trunc('month',  l_shipdate )),
store_v1 AS (
  SELECT l_partkey AS item_sk, date_trunc('month',  l_shipdate ) AS d_month,
    sum(sum(l_quantity)) OVER (PARTITION BY l_partkey
      ORDER BY date_trunc('month',  l_shipdate )
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume_sales
  FROM lineitem WHERE l_linenumber % 3 = 0
  GROUP BY l_partkey, date_trunc('month',  l_shipdate ))
SELECT item_sk, d_month, web_sales, store_sales,
  web_cumulative, store_cumulative
FROM (
  SELECT coalesce(web.item_sk, store.item_sk) AS item_sk,
    coalesce(web.d_month, store.d_month) AS d_month,
    web.cume_sales AS web_sales, store.cume_sales AS store_sales,
    max(web.cume_sales) OVER (
      PARTITION BY coalesce(web.item_sk, store.item_sk)
      ORDER BY coalesce(web.d_month, store.d_month)
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS web_cumulative,
    max(store.cume_sales) OVER (
      PARTITION BY coalesce(web.item_sk, store.item_sk)
      ORDER BY coalesce(web.d_month, store.d_month)
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS store_cumulative
  FROM web_v1 web FULL JOIN store_v1 store
    ON web.item_sk = store.item_sk AND web.d_month = store.d_month) y
WHERE web_cumulative > store_cumulative
