SELECT n_nationkey,
  ROW(n_nationkey * 2, upper(n_name)).col1 AS f1,
  ROW(n_nationkey * 2, upper(n_name)).col2 AS f2,
  ROW(n_regionkey, n_name).n_regionkey AS f3
FROM nation ORDER BY n_nationkey
